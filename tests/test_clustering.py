"""Connected components: parity with union-find, resumability."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from repostcheckerbot_spark.operators import clustering
from repostcheckerbot_spark.operators.clustering import connected_components, resume_connected_components


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _check(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    v = spark.createDataFrame([(n,) for n in nodes], ["conv_id"]) if nodes else None
    got = {r.conv_id: r.cluster_id for r in connected_components(e, vertices=v).collect()}
    all_nodes = nodes or sorted({x for p in edges for x in p})
    want = _union_find(edges, all_nodes)
    assert got == want


def test_chain(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("c", "d")])


def test_two_components_and_singleton(spark):
    _check(spark, [("a", "b"), ("x", "y")], nodes=["a", "b", "x", "y", "lonely"])


def test_random_graphs_match_union_find(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        nodes = [f"n{i:03d}" for i in range(120)]
        edges = []
        for _ in range(150):
            a, b = rng.sample(nodes, 2)
            edges.append((min(a, b), max(a, b)))
        _check(spark, edges, nodes)


def test_long_path_converges_log_rounds(spark):
    # a path of 200 nodes is the adversarial case for label propagation;
    # star contraction must close it in O(log n) rounds
    nodes = [f"p{i:04d}" for i in range(200)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(199)]
    metrics = []
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    got = {r.conv_id: r.cluster_id for r in connected_components(e, metrics=metrics).collect()}
    assert set(got.values()) == {nodes[0]}
    rounds = len([m for m in metrics if m["stage"] == "cc"])
    assert rounds <= 12, f"took {rounds} rounds for a 200-path"


def test_checkpoint_and_resume(spark, tmp_path):
    ckpt = str(tmp_path / "cc")
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    want = {r.conv_id: r.cluster_id for r in connected_components(e, checkpoint_dir=ckpt).collect()}
    # resume from the persisted state — must reproduce the same assignment
    got = {r.conv_id: r.cluster_id for r in resume_connected_components(spark, ckpt).collect()}
    assert got == want


def test_driver_and_distributed_paths_identical(spark, monkeypatch):
    """The bounded union-find fast path and the star-contraction path must
    produce IDENTICAL clusters (same min-id convention, same singleton
    handling). A graph under the row bound but over the byte budget takes
    the distributed path too, and the refusal is recorded."""
    # chain + triangle + isolated pair + singleton vertex
    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("z", "x"), ("p", "q")],
        "conv_id_a string, conv_id_b string",
    )
    verts = spark.createDataFrame([(v,) for v in "bcdxyzpqs"], "conv_id string")
    fast = connected_components(edges, vertices=verts)  # n=6 ≤ threshold
    slow = connected_components(edges, vertices=verts, small_graph_threshold=0)
    f = {r.conv_id: r.cluster_id for r in fast.collect()}
    s = {r.conv_id: r.cluster_id for r in slow.collect()}
    assert f == s
    assert f == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x", "z": "x", "p": "p", "q": "p", "s": "s"}
    monkeypatch.setattr(clustering, "_driver_byte_budget", lambda spark: 4)
    metrics = []
    capped = connected_components(edges, vertices=verts, metrics=metrics)
    assert {r.conv_id: r.cluster_id for r in capped.collect()} == f
    modes = [m.get("mode") for m in metrics]
    assert "collect_refused" in modes and "driver_union_find" not in modes


def test_star_clusters_chain_and_hub(spark):
    """Chain a-b-c: a is the center, b joins it, c splits off as a singleton
    (the diameter bound); a hub with two leaves keeps all three together;
    every member is one hop from its center."""
    from repostcheckerbot_spark.operators.clustering import star_clusters

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("h", "x"), ("h", "y"), ("p", "q")],
        "conv_id_a string, conv_id_b string",
    )
    verts = spark.createDataFrame([(v,) for v in "abchxypqs"], "conv_id string")
    got = {
        r.conv_id: r.cluster_id
        for r in star_clusters(edges, vertices=verts).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "c",   # chain splits at c
        "h": "h", "x": "h", "y": "h",   # hub (h < x,y so h is the center)
        "p": "p", "q": "p",
        "s": "s",                        # edge-free vertex self-clusters
    }


def test_star_clusters_refine_connected_components(spark):
    """On random graphs every star cluster is contained in one CC component
    (star refines CC), members are adjacent to their center, and the
    assignment covers every vertex exactly once."""
    import random

    from repostcheckerbot_spark.operators.clustering import (
        connected_components,
        star_clusters,
    )

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(80)
    })
    e = spark.createDataFrame(edges, "conv_id_a string, conv_id_b string")
    v = spark.createDataFrame([(x,) for x in nodes], "conv_id string")
    star = {r.conv_id: r.cluster_id for r in star_clusters(e, vertices=v).collect()}
    cc = {r.conv_id: r.cluster_id for r in connected_components(e, vertices=v).collect()}
    assert set(star) == set(nodes)
    nbr: dict[str, set] = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    for node, center in star.items():
        # refinement: same star cluster ⇒ same CC component
        assert cc[node] == cc[center]
        # one-hop property: non-center members are adjacent to their center
        if center != node:
            assert center in nbr[node]
            # and the center really is a local min-id
            assert min(nbr[center]) > center


def test_cluster_diff_statuses(spark):
    from repostcheckerbot_spark.operators.clustering import cluster_diff

    old = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("gone", "gone")],
        "conv_id string, cluster_id string",
    )
    new = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("fresh", "fresh")],
        "conv_id string, cluster_id string",
    )
    got = {r.conv_id: r.status for r in cluster_diff(old, new).collect()}
    assert got == {
        "a": "stable", "b": "stable", "c": "moved",
        "gone": "removed", "fresh": "added",
    }


def test_pivot_clusters_match_sequential_referee(spark):
    """The parallel MIS schedule must equal the sequential greedy-PIVOT loop
    exactly (Blelloch-Fineman-Shun equivalence) on random graphs, including
    isolated vertices."""
    from repostcheckerbot_spark.operators.clustering import pivot_clusters
    from repostcheckerbot_spark.operators.referee import kwikcluster_sequential

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        nodes = [f"n{i:03d}" for i in range(120)]
        edges = []
        for _ in range(150):
            a, b = rng.sample(nodes, 2)
            edges.append((min(a, b), max(a, b)))
        e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
        v = spark.createDataFrame([(n,) for n in nodes], ["conv_id"])
        got = {
            r.conv_id: r.cluster_id
            for r in pivot_clusters(e, vertices=v).collect()
        }
        want = dict(kwikcluster_sequential(nodes, edges))
        assert got == want


def test_pivot_clusters_invariants_and_position(spark):
    """Structural invariants on an adversarial ascending-id path (the case
    the md5 permutation exists for): pivots form an independent set, every
    non-pivot is adjacent to its pivot (diameter ≤ 2), the cover is exact,
    and the clustering sits between star (refines nothing) and CC: every
    pivot cluster is contained in one connected component."""
    from repostcheckerbot_spark.operators.clustering import (
        connected_components,
        pivot_clusters,
    )
    from repostcheckerbot_spark.operators.referee import kwikcluster_sequential

    nodes = [f"p{i:04d}" for i in range(200)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(199)]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    got = {r.conv_id: r.cluster_id for r in pivot_clusters(e).collect()}
    assert got == dict(kwikcluster_sequential(nodes, edges))
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    pivots = {c for c in got.values()}
    for p in pivots:
        assert not (adj[p] & pivots), "pivots must be an independent set"
    for n, c in got.items():
        assert n == c or c in adj[n], "member must be adjacent to its pivot"
    assert set(got) == set(nodes)
    cc = {r.conv_id: r.cluster_id for r in connected_components(e).collect()}
    for n, c in got.items():
        assert cc[n] == cc[c], "pivot cluster crosses a CC component"


def test_threshold_clustering_matches_referee_and_naive(spark):
    """The contraction ladder must equal (a) the sequential per-threshold
    union-find referee and (b) an independent FULL closure per level
    (contraction losslessness), on random weighted graphs with vertices
    whose first edge only activates at the loosest level."""
    from repostcheckerbot_spark.operators.clustering import (
        connected_components,
        threshold_clustering,
    )
    from repostcheckerbot_spark.operators.referee import single_linkage_levels

    thresholds = [2, 5, 9]
    for seed in (1, 2):
        rng = random.Random(seed)
        nodes = [f"n{i:03d}" for i in range(100)]
        edges = []
        for _ in range(140):
            a, b = rng.sample(nodes, 2)
            edges.append((min(a, b), max(a, b), rng.randint(0, 10)))
        e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b", "weight"])
        v = spark.createDataFrame([(n,) for n in nodes + ["lonely"]], ["conv_id"])
        got = sorted(
            (r.conv_id, r.threshold, r.cluster_id)
            for r in threshold_clustering(e, thresholds, vertices=v).collect()
        )
        want = single_linkage_levels(nodes + ["lonely"], edges, thresholds)
        assert got == want
        for t in thresholds:
            lvl = e.where(F.col("weight") <= t).select("conv_id_a", "conv_id_b")
            naive = {
                r.conv_id: r.cluster_id
                for r in connected_components(lvl, vertices=v).collect()
            }
            ladder_t = {n: c for n, th, c in got if th == t}
            assert ladder_t == naive, f"contraction diverges at threshold {t}"


def test_threshold_clustering_nesting_invariant(spark):
    """Monotone nesting: two nodes sharing a cluster at a tighter threshold
    must share one at every looser threshold."""
    from repostcheckerbot_spark.operators.clustering import threshold_clustering

    rng = random.Random(7)
    nodes = [f"m{i:03d}" for i in range(80)]
    edges = [
        (min(a, b), max(a, b), rng.randint(0, 6))
        for a, b in (rng.sample(nodes, 2) for _ in range(100))
    ]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b", "weight"])
    rows = threshold_clustering(e, [1, 3, 6]).collect()
    by_t: dict[int, dict[str, str]] = {}
    for r in rows:
        by_t.setdefault(r.threshold, {})[r.conv_id] = r.cluster_id
    ts = sorted(by_t)
    for tight, loose in zip(ts, ts[1:]):
        seen: dict[str, str] = {}
        for n, c in by_t[tight].items():
            if c in seen:
                assert by_t[loose][n] == seen[c], "nesting violated"
            else:
                seen[c] = by_t[loose][n]


def test_merge_responsible_edges_known_answer(spark):
    """Path a-b(w1)-c(w5): at θ=1 {a,b}|{c}, at θ=5 one cluster — only the
    b-c edge is merge-responsible (a-b was already intra-cluster at the
    tight cut). A component unchanged between cuts contributes nothing."""
    from repostcheckerbot_spark.operators.clustering import (
        merge_responsible_edges,
        threshold_clustering,
    )

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 5), ("x", "y", 1)],
        ["conv_id_a", "conv_id_b", "weight"],
    )
    ladder = threshold_clustering(e, [1, 5])
    got = merge_responsible_edges(
        e,
        tight_assign=ladder.where(F.col("threshold") == 1).select("conv_id", "cluster_id"),
        loose_assign=ladder.where(F.col("threshold") == 5).select("conv_id", "cluster_id"),
    ).collect()
    assert [tuple(r) for r in got] == [("b", "c", "a", "c", "a")]


def test_stable_cluster_ids_inherit_mint_collision(spark):
    """Mutual-best inheritance, a clean mint, and the split-steals-the-name
    collision: old {a,b,c}='a'; new {b,c}='b' and {a}='a'. The bigger piece
    'b' inherits 'a' (overlap 2 beats 1); the singleton '{a}' lost the
    mutual-best, mints its own id 'a' — already inherited by the other
    cluster, so it becomes 'a+'. Plus a disjoint pair that inherits cleanly
    and a brand-new record that mints cleanly."""
    from repostcheckerbot_spark.operators.clustering import stable_cluster_ids

    old = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("p", "p"), ("q", "p")],
        ["conv_id", "cluster_id"],
    )
    new = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("c", "b"), ("p", "p"), ("q", "p"), ("z", "z")],
        ["conv_id", "cluster_id"],
    )
    got = {
        r.cluster_id_new: (r.stable_id, r.status, r.n_overlap)
        for r in stable_cluster_ids(old, new).collect()
    }
    assert got == {
        "b": ("a", "inherited", 2),
        "p": ("p", "inherited", 2),
        "a": ("a+", "minted", None),
        "z": ("z", "minted", None),
    }
    assert len({v[0] for v in got.values()}) == len(got), "stable ids not unique"


def test_threshold_clustering_checkpoint_per_level(spark, tmp_path):
    """With a checkpoint_dir, each level's closure must land in its OWN
    level=θ subdirectory (a shared dir would interleave cc_iter rounds from
    different closures), and the result must equal the uncheckpointed run."""
    import os

    from repostcheckerbot_spark.operators.clustering import threshold_clustering

    edges = [("a", "b", 1), ("b", "c", 4), ("x", "y", 4)]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b", "weight"])
    ckpt = str(tmp_path / "ladder")
    got = sorted(
        map(tuple, threshold_clustering(e, [1, 4], checkpoint_dir=ckpt).collect())
    )
    want = sorted(map(tuple, threshold_clustering(e, [1, 4]).collect()))
    assert got == want
    levels = sorted(d for d in os.listdir(ckpt) if d.startswith("level="))
    assert levels == ["level=1", "level=4"]
    for lvl in levels:
        assert any(
            d.startswith("cc_iter=") for d in os.listdir(os.path.join(ckpt, lvl))
        )


def test_edge_triangle_support_known_answer(spark):
    """Triangle a-b-c with pendant c-d: every triangle edge has support 1
    (the third vertex), the pendant has support 0 and is preserved."""
    from repostcheckerbot_spark.operators.clustering import edge_triangle_support

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        ["conv_id_a", "conv_id_b"],
    )
    got = {
        (r.conv_id_a, r.conv_id_b): r.n_common
        for r in edge_triangle_support(e).collect()
    }
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1, ("c", "d"): 0}


def test_ktruss_matches_sequential_referee(spark):
    """Simultaneous peeling must equal the one-at-a-time referee (the
    maximal k-truss is unique) on a known graph and on random graphs, for
    k=3 and k=4."""
    from repostcheckerbot_spark.operators.clustering import ktruss_edges
    from repostcheckerbot_spark.operators.referee import ktruss_sequential

    known = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
             ("w", "x"), ("x", "y"), ("y", "z"), ("w", "z")]
    cases = [known]
    for seed in (1, 2):
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(40)]
        cases.append(
            [tuple(sorted(rng.sample(nodes, 2))) for _ in range(160)]
        )
    for edges in cases:
        e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
        for k in (3, 4):
            got = sorted(
                (min(r.conv_id_a, r.conv_id_b), max(r.conv_id_a, r.conv_id_b))
                for r in ktruss_edges(e, k).collect()
            )
            assert got == ktruss_sequential(edges, k), f"k={k}"


def test_threshold_clustering_fast_and_distributed_identical(spark, monkeypatch):
    """The bounded driver fast path (one collect + one union-find pass) and
    the distributed contraction path must produce IDENTICAL ladders,
    including singletons from the vertex frame — also when the byte budget,
    not the row bound, refuses the collect."""
    from repostcheckerbot_spark.operators.clustering import threshold_clustering

    rng = random.Random(11)
    nodes = [f"f{i:03d}" for i in range(80)]
    edges = [
        (min(a, b), max(a, b), rng.randint(0, 8))
        for a, b in (rng.sample(nodes, 2) for _ in range(110))
    ]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b", "weight"])
    v = spark.createDataFrame([(n,) for n in nodes + ["solo"]], ["conv_id"])
    fast = sorted(
        map(tuple, threshold_clustering(e, [2, 6], vertices=v).collect())
    )
    slow = sorted(
        map(
            tuple,
            threshold_clustering(
                e, [2, 6], vertices=v, small_graph_threshold=0
            ).collect(),
        )
    )
    assert fast == slow
    assert ("solo", 2, "solo") in fast and ("solo", 6, "solo") in fast
    # one byte under the ladder's id bytes: the ladder's collect is refused,
    # each level's smaller closure still fits
    ladder_bytes = sum(len(a) + len(b) for a, b, _ in edges)
    monkeypatch.setattr(clustering, "_driver_byte_budget", lambda spark: ladder_bytes - 1)
    assert sorted(map(tuple, threshold_clustering(e, [2, 6], vertices=v).collect())) == fast


def test_pivot_clusters_fast_and_mis_paths_identical(spark, monkeypatch):
    """The bounded driver fast path (one collect + sequential greedy) and
    the distributed MIS-round path must produce IDENTICAL pivot
    clusterings, including vertex singletons — also when the byte budget
    refuses the collect."""
    from repostcheckerbot_spark.operators.clustering import pivot_clusters

    rng = random.Random(13)
    nodes = [f"g{i:03d}" for i in range(90)]
    edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(130)]
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b"])
    v = spark.createDataFrame([(n,) for n in nodes + ["alone"]], ["conv_id"])
    fast = sorted(map(tuple, pivot_clusters(e, vertices=v).collect()))
    mis = sorted(
        map(
            tuple,
            pivot_clusters(e, vertices=v, small_graph_threshold=0).collect(),
        )
    )
    assert fast == mis
    assert ("alone", "alone") in fast
    monkeypatch.setattr(clustering, "_driver_byte_budget", lambda spark: 4)
    assert sorted(map(tuple, pivot_clusters(e, vertices=v).collect())) == fast


def test_threshold_clustering_vertices_cover_edges_flag_identical(spark):
    """``vertices_cover_edges=True`` (skip the 2·|edges| endpoint union when
    the caller guarantees vertices ⊇ endpoints) must produce the IDENTICAL
    ladder as the default path — including vertex singletons and vertices
    whose first edge only activates at a loose level. Also exercises the
    distributed path (small_graph_threshold=0) so the coverage guarantee is
    tested through the contraction levels, not just the driver fast path."""
    from repostcheckerbot_spark.operators.clustering import threshold_clustering

    rng = random.Random(7)
    nodes = [f"t{i:03d}" for i in range(80)]
    edges = []
    for _ in range(120):
        a, b = rng.sample(nodes, 2)
        edges.append((min(a, b), max(a, b), rng.randint(0, 9)))
    e = spark.createDataFrame(edges, ["conv_id_a", "conv_id_b", "weight"])
    # vertices cover every endpoint (plus true singletons) — the flag's
    # precondition, matching the entry call sites where the edge set is a
    # self-join over the same record frame
    v = spark.createDataFrame([(n,) for n in nodes + ["hermit"]], ["conv_id"])
    base = sorted(
        map(tuple, threshold_clustering(e, [2, 6], vertices=v).collect())
    )
    flagged = sorted(
        map(
            tuple,
            threshold_clustering(
                e, [2, 6], vertices=v, vertices_cover_edges=True
            ).collect(),
        )
    )
    assert flagged == base
    flagged_dist = sorted(
        map(
            tuple,
            threshold_clustering(
                e,
                [2, 6],
                vertices=v,
                vertices_cover_edges=True,
                small_graph_threshold=0,
            ).collect(),
        )
    )
    assert flagged_dist == base
    assert ("hermit", 2, "hermit") in base
