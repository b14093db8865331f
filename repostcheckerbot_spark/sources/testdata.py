"""Loaders for the driver-provided parquet tables (TESTDATA.md) and the
deterministic transcripts derivation used by the flagship query.

``transcripts_from_documents`` turns the ``documents`` table into a
transcripts corpus of the authoritative shape (BASELINE.json input_hint) —
fully deterministic, entirely native expressions:

- every document becomes one conversation: words chunked 8-per-turn, roles
  alternating user/assistant, tool = source, ts = 2024-01-01 + doc_id minutes;
- every doc_id ≡ 0 (mod 7) additionally emits an EXACT repost (new conv_id,
  +1 day);
- every doc_id ≡ 0 (mod 5), excluding the above, emits a NEAR repost: the
  first 60% of turns verbatim, the rest word-reversed (ratio ≈ 0.6-0.8 → the
  fuzzy path).

This provides a corpus with known duplicate structure derived ONLY from the
driver's data — no synthesized external inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


WORDS_PER_TURN = 8


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # the documents file is written as ONE parquet row group, so the scan
    # cannot split below one task — and the three turnify branches below
    # each word-split + explode every doc (~10 turn rows per doc) on that
    # single core. Spread the slim doc rows across the pool first
    # (functions/partitioning.py).
    docs = spread_to_parallelism(docs)

    def turnify(df: DataFrame, conv_prefix: str, ts_offset_days: int) -> DataFrame:
        # The per-turn strings are computed BEFORE the explode (one transform
        # over the doc's word array) so each generated row carries only its
        # own turn text — a previous cut exploded turn indexes first and
        # sliced after, which copied the FULL words array into every turn
        # row of the Generate output. ``_n_turns`` rides along so the
        # near-repost branch below can find the last turn without a window.
        words = F.split(F.trim(F.col("text")), r"\s+")
        n_turns = F.greatest(F.ceil(F.size(words) / WORDS_PER_TURN).cast("int"), F.lit(1))
        turn_texts = F.expr(
            f"transform(sequence(0, _n_turns - 1),"
            f" j -> array_join(slice(_words, j * {WORDS_PER_TURN} + 1, {WORDS_PER_TURN}), ' '))"
        )
        base = (
            df.withColumn("_words", words)
            .withColumn("_n_turns", n_turns)
            .select(
                "doc_id",
                "source",
                "_n_turns",
                F.posexplode(turn_texts).alias("turn_idx", "_turn_text"),
            )
        )
        return base.select(
            F.concat(F.lit(conv_prefix), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.when(F.col("turn_idx") % 2 == 0, "user").otherwise("assistant").alias("role"),
            F.col("_turn_text").alias("text"),
            F.col("source").alias("tool"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(days=F.lit(ts_offset_days), mins=F.col("doc_id").cast("int"))
            ).alias("ts"),
            F.col("_n_turns"),
        )

    base = turnify(docs, "c", 0).drop("_n_turns")
    exact_dups = turnify(docs.where(F.col("doc_id") % 7 == 0), "d", 1).drop("_n_turns")

    near_src = docs.where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0))
    near = turnify(near_src, "n", 2)
    # near-dup mutation: word-reverse the text of turns past 60% of the doc.
    # The last turn index is n_turns - 1 by construction, so no
    # max-over-window (and its exchange) is needed to find it.
    near = (
        near.withColumn(
            "text",
            F.when(
                F.col("turn_idx") * 10 > (F.col("_n_turns") - 1) * 6,
                F.array_join(F.reverse(F.split(F.col("text"), " ")), " "),
            ).otherwise(F.col("text")),
        )
        .drop("_n_turns")
    )
    return base.unionByName(exact_dups).unionByName(near)
