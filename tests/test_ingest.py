"""Incremental mode: identity skip, cross-batch matching, retention sweep,
tombstone purge, idempotent re-sweep (reference ST4/ST5)."""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import PipelineConfig
from repostcheckerbot_spark.operators.ingest import IncrementalPipeline
from repostcheckerbot_spark.sinks.state import Warehouse

TS = datetime(2024, 1, 1)


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def _conv(conv_id, text_parts, tool="web", ts=TS):
    return [
        (conv_id, i, "user" if i % 2 == 0 else "assistant", t, tool, ts + timedelta(seconds=i))
        for i, t in enumerate(text_parts)
    ]


@pytest.fixture()
def pipe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    return IncrementalPipeline(wh, PipelineConfig())


BASE = ["hello there this is a long conversation about spark " * 3, "and here is the assistant reply with details " * 3]


def test_cross_batch_exact_match_and_identity_skip(spark, pipe):
    b1 = _turns(spark, _conv("c_orig", BASE))
    r1 = pipe.process_batch(b1)
    assert r1["new_edges"].count() == 0

    # batch 2: exact repost + a re-send of c_orig (must be identity-skipped)
    b2 = _turns(spark, _conv("c_repost", BASE, ts=TS + timedelta(days=1)) + _conv("c_orig", BASE))
    r2 = pipe.process_batch(b2)
    assert r2["batch_docs"].count() == 1  # c_orig skipped (J1)
    edges = r2["new_edges"].collect()
    assert len(edges) == 1
    e = edges[0]
    assert (e.conv_id_a, e.conv_id_b, e.score, e.method) == ("c_orig", "c_repost", 100.0, "exact")
    clusters = {r.conv_id: r.cluster_id for r in r2["clusters"].collect()}
    assert clusters == {"c_orig": "c_orig", "c_repost": "c_orig"}

    # batch 3: a repost sorting BELOW the stored rep stars onto it, canonically
    r3 = pipe.process_batch(_turns(spark, _conv("a_early", BASE, ts=TS + timedelta(days=2))))
    edges = [(e.conv_id_a, e.conv_id_b, e.method) for e in r3["new_edges"].collect()]
    assert edges == [("a_early", "c_orig", "exact")]
    # ...and the corpus_reps index takes the new group min
    assert [r.rep for r in pipe.wh.read("corpus_reps").collect()] == ["a_early"]


def test_cross_batch_fuzzy_match(spark, pipe):
    pipe.process_batch(_turns(spark, _conv("c_a", BASE)))
    mutated = [BASE[0], "a completely different second turn with fresh content " * 3]
    r = pipe.process_batch(_turns(spark, _conv("c_b", mutated, ts=TS + timedelta(days=2))))
    edges = r["new_edges"].collect()
    assert len(edges) == 1
    assert edges[0].method == "fuzzy" and 50.0 < edges[0].score < 100.0


def test_reprocessing_same_batch_is_idempotent(spark, pipe):
    b = _turns(spark, _conv("c_x", BASE) + _conv("c_y", BASE, ts=TS + timedelta(hours=1)))
    r1 = pipe.process_batch(b)
    n_edges = r1["edges"].count()
    n_docs = pipe.corpus_docs().count()
    r2 = pipe.process_batch(b)  # re-sweep (ST5): nothing changes
    assert r2["batch_docs"].count() == 0
    assert r2["edges"].count() == n_edges
    assert pipe.corpus_docs().count() == n_docs


def test_tombstone_purge_and_edge_exclusion(spark, pipe):
    pipe.process_batch(_turns(spark, _conv("c_dead", BASE)))
    tomb = spark.createDataFrame([("c_dead",)], ["conv_id"])
    r = pipe.process_batch(
        _turns(spark, _conv("c_new", BASE, ts=TS + timedelta(days=1))), tombstones=tomb
    )
    assert r["new_edges"].count() == 0  # J5: match suppressed
    pipe.purge_deleted(tomb)
    assert pipe.corpus_docs().where(F.col("conv_id") == "c_dead").count() == 0


def test_retention_sweep(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    pipe = IncrementalPipeline(wh, PipelineConfig(retention_days=30))
    old = _conv("c_old", BASE, ts=TS)
    new = _conv("c_new", ["fresh content entirely unrelated " * 4], ts=TS + timedelta(days=100))
    now = F.to_timestamp(F.lit((TS + timedelta(days=100)).strftime("%Y-%m-%d %H:%M:%S")))
    # ingest gate drops c_old at arrival when it is already stale
    r = pipe.process_batch(_turns(spark, old + new), now=now)
    assert {x.conv_id for x in r["batch_docs"].collect()} == {"c_new"}
    # stored rows age out via the sweep
    pipe2 = IncrementalPipeline(Warehouse(spark, str(tmp_path / "wh3")), PipelineConfig(retention_days=30))
    pipe2.process_batch(_turns(spark, old), now=F.to_timestamp(F.lit("2024-01-02 00:00:00")))
    assert pipe2.corpus_docs().count() == 1
    n = pipe2.retention_sweep(now=now)
    assert n == 1 and pipe2.corpus_docs().count() == 0


def test_incremental_exact_probe_is_star_capped(spark, pipe):
    """A probe matching a viral duplicate group must emit O(probes) edges,
    not O(stored copies): 200 stored copies + 3 probes → exactly 3 new edges
    (probe → per-sha representative), and all 203 convs land in ONE cluster."""
    copies = []
    for i in range(200):
        copies += _conv(f"c{i:04d}", BASE, ts=TS + timedelta(minutes=i))
    r1 = pipe.process_batch(_turns(spark, copies))
    assert r1["new_edges"].count() == 199  # star within the batch, not 200·199/2

    probes = []
    for i in range(3):
        probes += _conv(f"p{i:02d}", BASE, ts=TS + timedelta(days=1, minutes=i))
    r2 = pipe.process_batch(_turns(spark, probes))
    exact = r2["new_edges"].where(F.col("method") == "exact")
    assert exact.count() == 3  # one edge per probe — NOT 3 × 200
    assert exact.where(F.col("conv_id_a") == "c0000").count() == 3  # rep = corpus min
    clusters = r2["clusters"].select("cluster_id").distinct().collect()
    assert len(clusters) == 1 and clusters[0].cluster_id == "c0000"


def test_delete_keys_dataframe_no_driver_collect(spark, tmp_path):
    """Bulk delete via a keys DATAFRAME (100k keys): no isin-literal plan, no
    driver materialization; bucketed path rewrites only key-bearing buckets."""
    wh = Warehouse(spark, str(tmp_path / "whdel"))
    rows = spark.range(100_000).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 7, "0")).alias("conv_id"),
        (F.col("id") % 100).alias("payload"),
    )
    wh.upsert("corpus", rows, key="conv_id", n_buckets=16)
    keys = spark.range(50_000).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 7, "0")).alias("conv_id")
    )
    n = wh.delete_keys("corpus", keys, "conv_id")
    assert n == 50_000
    remaining = wh.read("corpus")
    assert remaining.count() == 50_000
    assert remaining.where(F.col("conv_id") < "c0050000").count() == 0
    # deleting everything leaves a readable, empty, schema-stable table
    assert wh.delete_keys("corpus", wh.read("corpus").select("conv_id").localCheckpoint(), "conv_id") == 50_000
    assert wh.read("corpus").count() == 0 and wh.read("corpus").columns == ["conv_id", "payload"]


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "whbk"))
    base = spark.range(10_000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"), F.lit(1).cast("long").alias("v")
    )
    wh.upsert("t", base, key="conv_id", n_buckets=32)
    inc = spark.createDataFrame([("c5", 2), ("cNEW", 2)], ["conv_id", "v"])
    stats = wh.upsert("t", inc, key="conv_id")
    # merge I/O ∝ batch: at most 2 of 32 buckets rewritten
    assert stats["buckets_touched"] <= 2 and stats["buckets_total"] == 32
    assert stats["rows_written"] < 10_000 / 4
    out = wh.read("t")
    assert out.count() == 10_001
    assert {r.v for r in out.where(F.col("conv_id").isin("c5", "cNEW")).collect()} == {2}


def test_band_probe_io_proportional_to_batch(spark, pipe):
    """The fuzzy probe must touch colliding corpus bands only — a small batch
    against a big corpus of UNRELATED texts puts ~0 corpus bands through the
    cap/join (r2 ran the full corpus band set through a window per batch).
    Asserted via the ingest.probe_pool_bands metrics lineage row."""
    import random

    rng = random.Random(7)
    words = ["alpha", "bravo", "carol", "delta", "echoes", "fortan", "golfed", "hotelz"]

    def _text(i):
        return " ".join(rng.choice(words) + str(rng.randrange(10_000)) for _ in range(40))

    corpus_rows = []
    for i in range(120):
        corpus_rows += _conv(f"c{i:04d}", [_text(i), _text(i + 1000)])
    pipe.process_batch(_turns(spark, corpus_rows))

    batch_rows = _conv("probe01", [_text(5000), _text(6000)], ts=TS + timedelta(days=1))
    pipe.process_batch(_turns(spark, batch_rows))

    m = (
        pipe.wh.read("_metrics")
        .where(F.col("stage") == "ingest.probe_pool_bands")
        .orderBy(F.desc("recorded_at"))
        .limit(1)
        .collect()[0]
    )
    n_corpus_bands = pipe.wh.read("corpus_bands").count()
    batch_bands = pipe.cfg.bands  # 1 doc × bands
    # pool = batch bands + colliding corpus bands; unrelated texts ⇒ ~none
    assert m["rows_out"] <= batch_bands * 3, (m["rows_out"], n_corpus_bands)
    assert m["rows_out"] < n_corpus_bands / 10


def test_purge_heals_exact_star_when_rep_deleted(spark, pipe):
    """Exact edges are stars to the sha-group min; purging the rep must NOT
    disconnect the surviving copies (ADVICE r2): after deleting the oldest
    copy, the remaining two still share a cluster."""
    pipe.process_batch(_turns(spark, _conv("c_old", BASE)))
    pipe.process_batch(_turns(spark, _conv("d_mid", BASE, ts=TS + timedelta(days=1))))
    pipe.process_batch(_turns(spark, _conv("e_new", BASE, ts=TS + timedelta(days=2))))
    clusters = {r.conv_id: r.cluster_id for r in pipe.wh.read("clusters").collect()}
    assert clusters == {"c_old": "c_old", "d_mid": "c_old", "e_new": "c_old"}

    # purge the rep (the star center)
    dead = spark.createDataFrame([("c_old",)], "conv_id string")
    n = pipe.purge_deleted(dead)
    assert n == 1
    clusters = {r.conv_id: r.cluster_id for r in pipe.wh.read("clusters").collect()}
    assert clusters == {"d_mid": "d_mid", "e_new": "d_mid"}

    # and the healed star keeps working for future probes
    r = pipe.process_batch(_turns(spark, _conv("f_fut", BASE, ts=TS + timedelta(days=3))))
    clusters = {r.conv_id: r.cluster_id for r in r["clusters"].collect()}
    assert clusters == {"d_mid": "d_mid", "e_new": "d_mid", "f_fut": "d_mid"}


def test_corpus_reps_index_maintained(spark, pipe):
    """The corpus_reps index (sha → group rep, bucketed by sha) must stay an
    exact function of corpus_docs across batches AND purges — it is what the
    exact probe reads instead of re-aggregating the corpus every micro-batch."""
    pipe.process_batch(_turns(spark, _conv("c_one", BASE)))
    pipe.process_batch(_turns(spark, _conv("d_two", BASE, ts=TS + timedelta(days=1))))
    other = ["a totally different conversation body here " * 4, "yes entirely different " * 5]
    pipe.process_batch(_turns(spark, _conv("e_oth", other, ts=TS + timedelta(days=2))))

    reps = {r.doc_sha: r.rep for r in pipe.wh.read("corpus_reps").collect()}
    docs = pipe.wh.read("corpus_docs").collect()
    expect = {}
    for r in docs:
        expect[r.doc_sha] = min(expect.get(r.doc_sha, r.conv_id), r.conv_id)
    assert reps == expect and len(reps) == 2

    # purge the rep of the duplicate group: the index re-points at the new min
    pipe.purge_deleted(spark.createDataFrame([("c_one",)], "conv_id string"))
    reps = {r.doc_sha: r.rep for r in pipe.wh.read("corpus_reps").collect()}
    docs = pipe.wh.read("corpus_docs").collect()
    expect = {}
    for r in docs:
        expect[r.doc_sha] = min(expect.get(r.doc_sha, r.conv_id), r.conv_id)
    assert reps == expect
    assert reps[[r.doc_sha for r in docs if r.conv_id == "d_two"][0]] == "d_two"

    # probe I/O lineage: the rep probe reads a bounded bucket subset
    m = (
        pipe.wh.read("_metrics")
        .where(F.col("stage") == "ingest.rep_probe")
        .orderBy(F.desc("recorded_at"))
        .limit(1)
        .collect()
    )
    assert m, "rep_probe pruning metrics missing"
    import json as _json

    extra = _json.loads(m[0]["extra"])
    assert extra["buckets_read"] <= extra["buckets_total"]


def test_corpus_bands_purge_rewrites_only_dead_band_buckets(spark, tmp_path):
    """corpus_bands is bucketed by band_hash — unprunable by conv_id directly —
    so the purge recomputes the dead docs' band hashes and uses them as the
    delete's prune hint. With n_buckets ≫ bands·|dead| (the 100-TB shape),
    only the buckets actually holding a doomed row may be rewritten; every
    other bucket directory must keep its exact file list (pre-r3 this delete
    was a full-table rewrite)."""
    import os

    cfg = PipelineConfig(bands=8, rows_per_band=2, warehouse_buckets=64)
    pipe = IncrementalPipeline(Warehouse(spark, str(tmp_path / "wh_bprune")), cfg)
    rows = []
    for i in range(40):
        body = [f"conversation number {i} about topic {i * 37} " * 4, f"reply body {i * 91} " * 5]
        rows += _conv(f"c{i:04d}", body)
    pipe.process_batch(_turns(spark, rows))

    bands_path = pipe.wh._path("corpus_bands")

    def listing():
        return {
            d: sorted(os.listdir(os.path.join(bands_path, d)))
            for d in os.listdir(bands_path)
            if d.startswith("_bucket=")
        }

    before = listing()
    assert len(before) > 16  # corpus bands spread over many buckets
    n_rows_before = pipe.wh.read("corpus_bands").count()

    dead = ["c0003", "c0007"]
    pipe.purge_deleted(spark.createDataFrame([(c,) for c in dead], "conv_id string"))

    after = listing()
    # the doomed rows are fully gone, survivors intact
    bands_now = pipe.wh.read("corpus_bands")
    assert bands_now.where(F.col("conv_id").isin(dead)).count() == 0
    assert bands_now.count() == n_rows_before - 2 * cfg.bands
    # pruning: ≤ bands·|dead| buckets rewritten; the rest byte-identical
    changed = [d for d in before if after.get(d) != before[d]]
    assert 0 < len(changed) <= 2 * cfg.bands
    untouched = [d for d in before if after.get(d) == before[d]]
    assert len(untouched) >= len(before) - 2 * cfg.bands
    # and the purged warehouse still ingests + matches correctly
    r = pipe.process_batch(
        _turns(spark, _conv("c0003", [f"conversation number 4 about topic {4 * 37} " * 4,
                                      f"reply body {4 * 91} " * 5], ts=TS + timedelta(days=1)))
    )
    assert r["batch_docs"].count() == 1  # re-ingest after purge is allowed


def test_incremental_cluster_update_matches_full_recompute(spark, tmp_path):
    """Every tick recomputes clusters through the one writer: after each
    batch the table equals the full CC of the corpus so far, including
    cross-batch merges of previously separate components. The first tick
    creates the bucketed layout with a stored schema."""
    cfg = PipelineConfig()
    pipe = IncrementalPipeline(Warehouse(spark, str(tmp_path / "wh_cc")), cfg)
    other = ["entirely different content in this conversation " * 4, "another reply " * 6]
    batches = [
        _turns(spark, _conv("c_a", BASE) + _conv("x_1", other)),
        _turns(spark, _conv("d_b", BASE, ts=TS + timedelta(days=1))),
        # merges BASE group (c_a,d_b) with a new copy AND starts a new group
        _turns(
            spark,
            _conv("e_c", BASE, ts=TS + timedelta(days=2))
            + _conv("y_2", other, ts=TS + timedelta(days=2)),
        ),
    ]
    expected = [
        {"c_a": "c_a", "x_1": "x_1"},
        {"c_a": "c_a", "d_b": "c_a", "x_1": "x_1"},
        {"c_a": "c_a", "d_b": "c_a", "e_c": "c_a", "x_1": "x_1", "y_2": "x_1"},
    ]
    for i, (b, want) in enumerate(zip(batches, expected)):
        pipe.process_batch(b)
        if i == 0:
            assert pipe.wh.get_meta("clusters", "n_buckets") == cfg.warehouse_buckets
            assert pipe.wh.get_meta("clusters", "schema") is not None
        assert {r.conv_id: r.cluster_id for r in pipe.wh.read("clusters").collect()} == want


# ---- purge: pinned post-purge state, delete_keys, job budget ---------------
def _table_hash(wh, table) -> str:
    """Order-insensitive hash of a table's rows (columns sorted by name)."""
    df = wh.read(table)
    rows = sorted(repr(tuple(str(v) for v in r)) for r in df.select(sorted(df.columns)).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


STATE_TABLES = ("corpus_docs", "corpus_bands", "edges", "corpus_reps", "clusters")


def _purge_fixture(spark, root) -> IncrementalPipeline:
    """A two-batch warehouse with one exact group whose rep is purged, one
    exact pair losing its non-rep member, a fuzzy pair, and singletons."""
    pipe = IncrementalPipeline(Warehouse(spark, root), PipelineConfig())
    other = ["entirely different content in this conversation " * 4, "another reply " * 6]
    third = ["a third topic that shares nothing with the others " * 4, "short answer " * 7]
    fuzzy = [BASE[0], "a completely different second turn with fresh content " * 3]
    b1 = (
        _conv("a_rep", BASE) + _conv("b_cp1", BASE, ts=TS + timedelta(hours=1))
        + _conv("x_one", other) + _conv("y_one", third) + _conv("z_fz", fuzzy)
    )
    day = TS + timedelta(days=1)
    b2 = _conv("c_cp2", BASE, ts=day) + _conv("x_two", other, ts=day) + _conv("s_solo", ["solo " * 30], ts=day)
    pipe.process_batch(_turns(spark, b1))
    pipe.process_batch(_turns(spark, b2))
    return pipe


def test_purge_pins_post_purge_state(spark, tmp_path):
    """The purge's end state, table by table, is pinned by sorted-row hashes
    recorded before the purge's writes were restructured."""
    pipe = _purge_fixture(spark, str(tmp_path / "wh_pin"))
    dead = spark.createDataFrame([(c,) for c in ("a_rep", "x_two", "y_one", "never_stored")], "conv_id string")
    assert pipe.purge_deleted(dead) == 3
    got = {t: _table_hash(pipe.wh, t) for t in STATE_TABLES}
    assert got == {
        "corpus_docs": "3a773a5b0825fe73",
        "corpus_bands": "726712d7c64c124d",
        "edges": "89aca52a258fd9d9",
        "corpus_reps": "5a8e095f4acc13f4",
        "clusters": "f8771263d38c0793",
    }
    assert pipe.wh.read("clusters").count() == 5


def test_recompute_clusters_rebuilds_a_missing_table(spark, tmp_path):
    """recompute_clusters on a warehouse without a clusters table writes the
    same rows the ticks maintained, in the bucketed layout with a stored
    schema, and the warehouse ingests again afterwards."""
    pipe = _purge_fixture(spark, str(tmp_path / "wh_rebuild"))
    want = _table_hash(pipe.wh, "clusters")
    shutil.rmtree(pipe.wh._path("clusters"))
    os.remove(pipe.wh._meta_path("clusters"))
    assert not pipe.wh.exists("clusters")
    pipe.recompute_clusters()
    assert _table_hash(pipe.wh, "clusters") == want
    assert pipe.wh.get_meta("clusters", "n_buckets") == pipe.cfg.warehouse_buckets
    assert pipe.wh.get_meta("clusters", "schema") is not None
    r = pipe.process_batch(_turns(spark, _conv("d_cp3", BASE, ts=TS + timedelta(days=2))))
    clusters = {x.conv_id: x.cluster_id for x in r["clusters"].collect()}
    assert clusters["d_cp3"] == clusters["a_rep"] == "a_rep"


def _bucket_listing(wh, table) -> dict:
    path = wh._path(table)
    return {d: sorted(os.listdir(os.path.join(path, d))) for d in os.listdir(path) if d.startswith("_bucket=")}


def test_delete_keys_staged_known_answer(spark, tmp_path):
    """delete_keys returns the rows it removed (footer counts), drops the
    buckets it empties, leaves untouched buckets' files alone, discards a
    write that matched nothing, and keeps a fully emptied table readable."""
    wh = Warehouse(spark, str(tmp_path / "wh_dk"))
    rows = spark.createDataFrame([(f"k{i:03d}", i) for i in range(64)], "k string, v long")
    wh.upsert("t", rows, key="k", n_buckets=8)
    bucket = {
        r.k: r.b for r in rows.select("k", F.pmod(F.xxhash64("k"), F.lit(8)).alias("b")).collect()
    }
    target = bucket["k000"]
    other = next(k for k in sorted(bucket) if bucket[k] != target)
    doomed = sorted(k for k, b in bucket.items() if b == target) + [other]
    before = _bucket_listing(wh, "t")
    n = wh.delete_keys("t", spark.createDataFrame([(k,) for k in doomed], "k string"), "k")
    assert n == len(doomed)
    after = _bucket_listing(wh, "t")
    assert f"_bucket={target}" not in after  # emptied bucket dropped
    rewritten = {f"_bucket={target}", f"_bucket={bucket[other]}"}
    assert {d: f for d, f in after.items() if d not in rewritten} == {
        d: f for d, f in before.items() if d not in rewritten
    }
    assert wh.read("t").count() == 64 - len(doomed)

    # no-op deletes, pruned and full-table: the file set is unchanged
    snap = _bucket_listing(wh, "t")
    assert wh.delete_keys("t", spark.createDataFrame([("nope",)], "k string"), "k") == 0
    assert wh.delete_keys("t", spark.createDataFrame([(999,)], "v long"), "v") == 0
    assert _bucket_listing(wh, "t") == snap

    # full-table branch (not the bucket key)
    vs = sorted(r.v for r in wh.read("t").collect())[:2]
    assert wh.delete_keys("t", spark.createDataFrame([(v,) for v in vs], "v long"), "v") == 2
    left = 64 - len(doomed) - 2
    assert wh.read("t").count() == left

    # delete_where: the same staged rewrite, a predicate matching nothing is a no-op
    snap = _bucket_listing(wh, "t")
    assert wh.delete_where("t", F.col("v") > 1000) == 0
    assert _bucket_listing(wh, "t") == snap
    assert wh.delete_where("t", F.col("v") == min(r.v for r in wh.read("t").collect())) == 1
    left -= 1
    assert wh.read("t").count() == left

    # deleting everything: no bucket left, the meta schema reads it back
    assert wh.delete_keys("t", wh.read("t").select("k").localCheckpoint(), "k") == left
    assert _bucket_listing(wh, "t") == {}
    assert wh.read("t").count() == 0 and wh.read("t").columns == ["k", "v"]


def test_staged_swap_rejects_rows_outside_touched(spark, tmp_path):
    """A merge whose rows hash outside the caller's ``touched`` list raises
    before any bucket is swapped: the table keeps every row."""
    wh = Warehouse(spark, str(tmp_path / "wh_stray"))
    rows = spark.createDataFrame([(f"k{i:03d}", 1) for i in range(32)], "k string, v long")
    wh.upsert("t", rows, key="k", n_buckets=8)
    b = rows.where(F.col("k") == "k005").select(F.pmod(F.xxhash64("k"), F.lit(8))).first()[0]
    snap = _bucket_listing(wh, "t")
    inc = spark.createDataFrame([("k005", 2)], "k string, v long")
    with pytest.raises(ValueError, match="outside the rewrite"):
        wh.upsert("t", inc, key="k", touched=[(b + 1) % 8])
    with pytest.raises(ValueError, match="outside the rewrite"):
        wh.delete_keys("t", inc.select("k"), "k", touched=[(b + 1) % 8], insert=inc)
    assert _bucket_listing(wh, "t") == snap
    assert wh.read("t").where(F.col("v") == 1).count() == 32
    assert not [d for d in os.listdir(wh.root) if d.startswith("_staging_")]


#: jobs one purge of the fixture may launch: the staged, concurrent plan
#: launches 44 on a local[4] session, the sequential plan before it 106
PURGE_JOB_BUDGET = 50


def test_purge_job_budget(spark, tmp_path):
    """The purge's Spark job count stays under a fixed budget, so the job
    floor cannot creep back. Jobs launched from the purge's pool threads
    carry no job group either, so they are counted too."""
    pipe = _purge_fixture(spark, str(tmp_path / "wh_budget"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    dead = spark.createDataFrame([(c,) for c in ("a_rep", "x_two", "y_one")], "conv_id string")
    assert pipe.purge_deleted(dead) == 3
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert 0 < len(jobs) <= PURGE_JOB_BUDGET


def test_metrics_rows_readable_beside_spark_files(spark, pipe):
    """A tick's _metrics rows (written through pyarrow) read back through
    Spark next to a Spark-written file, under the one schema."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("run_id", T.StringType()),
            T.StructField("stage", T.StringType()),
            T.StructField("wall_s", T.DoubleType()),
            T.StructField("rows_out", T.LongType()),
            T.StructField("extra", T.StringType()),
            T.StructField("recorded_at", T.DoubleType()),
        ]
    )
    spark.createDataFrame([("spark_run", "old.stage", None, 7, "{}", 1.0)], schema).write.mode(
        "append"
    ).parquet(pipe.wh._path("_metrics"))
    pipe.process_batch(_turns(spark, _conv("c_m", BASE)))
    m = pipe.wh.read("_metrics")
    assert [(f.name, f.dataType) for f in m.schema] == [(f.name, f.dataType) for f in schema]
    rows = m.collect()
    assert {r.run_id for r in rows if r.stage == "old.stage"} == {"spark_run"}
    tick = [r for r in rows if r.run_id != "spark_run"]
    assert {"ingest.batch_docs", "ingest.new_edges", "ingest.batch"} <= {r.stage for r in tick}
    assert [r.rows_out for r in tick if r.stage == "ingest.batch_docs"] == [1]


def test_failed_scoring_leaves_no_table_write_running(spark, pipe, monkeypatch):
    """A scoring job that fails while the overlap pool's table writes are in
    flight: process_batch raises only after every write has finished."""
    import time

    from repostcheckerbot_spark.operators import scoring

    pipe.process_batch(_turns(spark, _conv("c_a", BASE)))
    calls = []
    orig = Warehouse.upsert

    def slow_upsert(self, *a, **kw):
        t0 = time.time()
        time.sleep(1.5)
        try:
            return orig(self, *a, **kw)
        finally:
            calls.append((t0, time.time()))

    monkeypatch.setattr(Warehouse, "upsert", slow_upsert)
    monkeypatch.setattr(
        scoring, "difflib_ratio_once", lambda a, b: F.raise_error(F.lit("injected scoring failure")).cast("double")
    )
    mutated = [BASE[0], "a completely different second turn with fresh content " * 3]
    with pytest.raises(Exception, match="injected scoring failure"):
        pipe.process_batch(_turns(spark, _conv("c_b", mutated, ts=TS + timedelta(days=2))))
    raised = time.time()
    assert calls and all(end <= raised for _, end in calls)


def test_docs_without_reps_index_raise_before_any_write(spark, tmp_path):
    """A warehouse holding corpus_docs but no corpus_reps cannot be probed
    exactly, and one without clusters would lose its stored conversations
    from the clusters recompute: process_batch raises ValueError naming the
    missing table before any Spark job, and writes no table."""
    from repostcheckerbot_spark.operators.assembly import assemble_docs
    from repostcheckerbot_spark.operators.ingest import DOC_COLS

    docs = assemble_docs(_turns(spark, _conv("c_a", BASE))).select(*DOC_COLS)
    reps = docs.select("doc_sha", F.col("conv_id").alias("rep"))
    tracker = spark.sparkContext.statusTracker()
    cases = [
        ("no corpus_reps table", {}),
        (r"no clusters table; run recompute_clusters\(\)", {"corpus_reps": (reps, "doc_sha")}),
    ]
    for i, (message, stored) in enumerate(cases):
        pipe = IncrementalPipeline(Warehouse(spark, str(tmp_path / f"wh_half_{i}")), PipelineConfig())
        for table, (df, key) in {"corpus_docs": (docs, "conv_id"), **stored}.items():
            pipe.wh.upsert(table, df, key=key, n_buckets=pipe.cfg.warehouse_buckets)
        files = lambda: {os.path.join(d, f) for d, _, fs in os.walk(pipe.wh.root) for f in fs}  # noqa: E731
        before, jobs = files(), set(tracker.getJobIdsForGroup())
        with pytest.raises(ValueError, match=message):
            pipe.process_batch(_turns(spark, _conv("c_b", BASE, ts=TS + timedelta(days=1))))
        assert files() == before
        assert set(tracker.getJobIdsForGroup()) == jobs
