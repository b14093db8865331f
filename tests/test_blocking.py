"""Blocking: shingle determinism, MinHash stability, LSH candidate recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import PipelineConfig
from repostcheckerbot_spark.fixtures import generate, to_spark
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import _kgram_hashes, generate_candidates, with_signature

CFG = PipelineConfig()


def _docs(spark, texts: list[str]):
    return spark.createDataFrame(
        [(f"c{i}", t, "tool_x", 0) for i, t in enumerate(texts)],
        ["conv_id", "norm_text", "tool", "role_sig"],
    )


def test_shingles_deterministic():
    k = CFG.shingle_k
    h = _kgram_hashes("abcdefghij", k)
    assert list(h) == list(_kgram_hashes("abcdefghij", k))
    assert len(h) == 10 - k + 1
    assert len(_kgram_hashes("short", k)) == 1  # doc shorter than k → whole text
    # the same shingle at two positions hashes equal
    h3 = _kgram_hashes("abcabcabc", 3)
    assert h3[0] == h3[3] == h3[6]


def test_minhash_identical_docs_identical_signature(spark):
    df = with_signature(_docs(spark, ["hello world " * 10, "hello world " * 10]), CFG)
    sigs = [r.minhash for r in df.collect()]
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == CFG.num_hashes


def test_candidate_recall_on_fixture_dups(spark):
    """Every labeled dup pair (ratio > 0.5) at a shared block must surface as
    an LSH candidate or an exact sha pair — the recall half of F1≥0.99."""
    fixture = generate(n_conv=60, seed=11)
    transcripts, labeled, *_ = to_spark(spark, fixture)
    docs = assemble_docs(transcripts)
    cands, _ = generate_candidates(docs, CFG)
    dups = labeled.where(F.col("is_dup"))
    # exact pairs (ratio == 1.0) are covered by the sha path, not LSH
    lsh_needed = dups.where(F.col("ratio") < 1.0)
    missed = lsh_needed.join(cands, ["conv_id_a", "conv_id_b"], "left_anti")
    n_needed = lsh_needed.count()
    n_missed = missed.count()
    assert n_needed > 5
    assert n_missed == 0, f"LSH missed {n_missed}/{n_needed} dup pairs"


def test_candidates_only_within_block(spark):
    """Cross-block pairs are never generated (reference: one DB per
    subreddit, database.py:26-35)."""
    texts = ["the same exact text here " * 5] * 2
    df = spark.createDataFrame(
        [("a", texts[0], "tool_1", 0), ("b", texts[1], "tool_2", 0)],
        ["conv_id", "norm_text", "tool", "role_sig"],
    )
    cands, _ = generate_candidates(df, CFG)
    assert cands.count() == 0


def test_band_bucket_cap_records_metrics_not_silent(spark):
    cfg = PipelineConfig(max_band_bucket=4)
    texts = ["identical content repeated for skew " * 5] * 20
    df = _docs(spark, texts)
    cands, bucket_metrics = generate_candidates(df, cfg)
    # capped: pairs bounded by C(4,2) per bucket, and the cap is visible
    assert bucket_metrics.count() > 0
    assert bucket_metrics.agg(F.max("bucket_size")).collect()[0][0] == 20
    assert cands.count() <= 4 * 3 / 2


def test_sorted_neighborhood_pairs_known_answer(spark):
    """4 records totally ordered x1 < x2 < y3 < z4, window 3 → all
    rank-distance-1 and -2 pairs; forcing several range partitions proves
    windows straddle partition boundaries (the distributed global rank is
    what makes that work)."""
    from repostcheckerbot_spark.operators.blocking import sorted_neighborhood_pairs

    recs = spark.createDataFrame(
        [(2, "x"), (1, "x"), (3, "y"), (4, "z")], "rec_id int, val string"
    )
    got = {
        (r.id_a, r.id_b, r.rank_distance)
        for r in sorted_neighborhood_pairs(
            recs, ["val"], window=3, id_col="rec_id", num_partitions=3
        ).collect()
    }
    assert got == {(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 3, 2), (2, 4, 2)}

    # window 2 degenerates to adjacent pairs only
    adj = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            recs, ["val"], window=2, id_col="rec_id", num_partitions=2
        ).collect()
    }
    assert adj == {(1, 2), (2, 3), (3, 4)}


def test_metablocking_pairs_known_answer(spark):
    """r1,r2 share blocks {A,B}; r3 only in A; r4 isolated in C. At
    min_common=2 only (1,2) survives with Jaccard weight 2/(2+2-2)=1; at
    min_common=1 the weight separates strong from weak pairs."""
    from repostcheckerbot_spark.operators.blocking import metablocking_pairs

    assignments = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (4, "C")],
        "doc_id int, blk string",
    )
    strong = metablocking_pairs(
        assignments, id_col="doc_id", block_cols=("blk",), min_common=2
    ).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.n_common, r.js_millionths) for r in strong] == [
        (1, 2, 2, 1_000_000)
    ]

    weak = {
        (r.doc_id_a, r.doc_id_b): (r.n_common, r.js_millionths)
        for r in metablocking_pairs(
            assignments, id_col="doc_id", block_cols=("blk",), min_common=1
        ).collect()
    }
    assert weak == {
        (1, 2): (2, 1_000_000),
        (1, 3): (1, 500_000),
        (2, 3): (1, 500_000),
    }
