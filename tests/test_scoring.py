"""Scoring: difflib UDF parity, exact edges, threshold algebra (F2/F3)."""

from __future__ import annotations

from difflib import SequenceMatcher

from pyspark.sql import functions as F

from repostcheckerbot_spark.config import PipelineConfig
from repostcheckerbot_spark.operators.scoring import difflib_ratio, exact_edges, fuzzy_edges

CFG = PipelineConfig()


def test_threshold_algebra():
    # 10 - ratio*10 < thresh  ⇔  ratio > 1 - thresh/10 (database.py:396);
    # exact rational arithmetic — float noise at the boundary is not a
    # semantic difference (difflib ratios are m/n rationals)
    from fractions import Fraction

    for thresh in range(1, 10):
        cfg = PipelineConfig(thresh=thresh)
        assert cfg.ratio_threshold == 1 - thresh / 10
        for i in range(0, 101):
            ratio = Fraction(i, 100)
            ref = 10 - ratio * 10 < thresh
            ours = ratio > 1 - Fraction(thresh, 10)
            assert ref == ours


def test_difflib_udf_matches_host_difflib(spark):
    pairs = [
        ("abcdef", "abcdef"),
        ("abcdef", "abcxyz"),
        ("the quick brown fox", "the quick brown cat"),
        ("x" * 300, "x" * 250 + "y" * 50),  # autojunk regime (len ≥ 200)
        ("", "nonempty"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = [r[0] for r in df.select(difflib_ratio(F.col("a"), F.col("b"))).collect()]
    want = [SequenceMatcher(None, a, b).ratio() for a, b in pairs]
    assert got == want


def test_exact_edges_are_linear_stars(spark):
    # star per sha group (min conv_id = representative), NOT all-pairs:
    # quadratic pair explosion on big duplicate groups is the 100TB skew bomb
    docs = spark.createDataFrame(
        [("b", "sha1"), ("a", "sha1"), ("c", "sha2"), ("d", "sha1")],
        ["conv_id", "doc_sha"],
    )
    edges = exact_edges(docs).collect()
    got = {(r.conv_id_a, r.conv_id_b) for r in edges}
    assert got == {("a", "b"), ("a", "d")}
    assert all(r.score == 100.0 and r.method == "exact" for r in edges)


def test_fuzzy_edges_threshold_strict_and_anti_join(spark):
    docs = spark.createDataFrame(
        [
            ("a", "abcdefghij"),
            ("b", "abcdefghij"),  # exact copy of a → must be excluded (J4)
            ("c", "abcdefzzzz"),  # ratio 0.6 vs a → accepted
            ("d", "zzzzzzzzzz"),  # ratio 0.0 vs a → rejected
        ],
        ["conv_id", "norm_text"],
    )
    docs = docs.withColumn("doc_sha", F.sha2("norm_text", 256))
    cands = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], ["conv_id_a", "conv_id_b"]
    )
    fuzzy = fuzzy_edges(cands, docs, CFG).collect()
    got = {(r.conv_id_a, r.conv_id_b): r for r in fuzzy}
    assert set(got) == {("a", "c")}
    assert abs(got[("a", "c")].score - 60.0) < 1e-9
    assert got[("a", "c")].method == "fuzzy"


def test_fuzzy_scoring_plans_one_udf_above_the_exchange(spark):
    """Batch and incremental runs both score through fuzzy_edges: its plan
    evaluates difflib once, above the conv_id_b-keyed exchange (the ratio
    filter must not push a second copy of the UDF below it)."""
    docs = spark.createDataFrame(
        [("a", "abcdefghij"), ("c", "abcdefzzzz")], ["conv_id", "norm_text"]
    ).withColumn("doc_sha", F.sha2("norm_text", 256))
    cands = spark.createDataFrame([("a", "c")], ["conv_id_a", "conv_id_b"])
    plan = fuzzy_edges(cands, docs, CFG)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.index("ArrowEvalPython") < plan.index("Exchange hashpartitioning(conv_id_b")


def test_boundary_ratio_exactly_half_rejected(spark):
    # ratio == 0.5 must NOT match (strict inequality, database.py:396)
    a, b = "abcde", "abxyz"  # SequenceMatcher ratio = 2*2/10 = 0.4 → find real 0.5 pair
    a2, b2 = "abcd", "abxy"  # 2*2/8 = 0.5
    assert SequenceMatcher(None, a2, b2).ratio() == 0.5
    docs = spark.createDataFrame(
        [("p", a2), ("q", b2)], ["conv_id", "norm_text"]
    ).withColumn("doc_sha", F.sha2("norm_text", 256))
    cands = spark.createDataFrame([("p", "q")], ["conv_id_a", "conv_id_b"])
    fuzzy = fuzzy_edges(cands, docs, CFG)
    assert fuzzy.count() == 0


def test_jaro_winkler_and_levenshtein_reference_values(spark):
    """Scorer parity on canonical examples (Winkler's MARTHA/MARHTA etc.) and
    the DuckDB conventions the oracles rely on: empty-vs-empty jaro = 0,
    transpositions floor-halved, prefix bonus only above the 0.7 boost."""
    from repostcheckerbot_spark.operators.scoring import (
        _jaro,
        _jaro_winkler,
        jaro_winkler,
        levenshtein_ratio,
    )

    assert abs(_jaro("MARTHA", "MARHTA") - 0.9444444444444445) < 1e-12
    assert abs(_jaro_winkler("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12
    assert abs(_jaro_winkler("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12
    assert _jaro_winkler("CRATE", "TRACE") == _jaro("CRATE", "TRACE")  # prefix 0
    # below the 0.7 boost: no prefix bonus even with a shared prefix
    assert _jaro_winkler("abqqqqqq", "abzzzz") == _jaro("abqqqqqq", "abzzzz")
    assert _jaro("", "") == 0.0 and _jaro("a", "") == 0.0
    assert _jaro("abcd", "badc") == 0.8333333333333334  # floor-halved t

    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("kitten", "sitting"), ("", "")], ["a", "b"]
    )
    got = df.select(
        F.round(jaro_winkler(F.col("a"), F.col("b")), 6).alias("jw"),
        F.round(levenshtein_ratio("a", "b"), 6).alias("lr"),
    ).collect()
    assert got[0].jw == 0.961111
    assert got[1].lr == round(1 - 3 / 7, 6)  # kitten→sitting = 3 edits
    assert got[2].jw == 0.0 and got[2].lr == 1.0  # ''=='' identical for ratio
