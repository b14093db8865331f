"""Partitioning helpers shared by operators.

The driver-generated parquet inputs are written as ONE row group per file,
so every scan arrives as a single split regardless of
``spark.sql.files.maxPartitionBytes`` — and any operator that does heavy
per-row work straight off the scan (word splitting, n-gram explodes, hash
encodes, vector math) is pinned to one core while the rest of the pool
idles. ``spread_to_parallelism`` is the shared conditional fix: repartition
up to ``sc.defaultParallelism`` only when the frame is under-split, so a
well-partitioned production scan passes through untouched (the trigger is
the split count, not a local[32] constant).

It is the one conditional spread; its callers and their measured single-split
stages (local[32]): the md5-MinHash UDFs in ``dedup_docs`` (22 s → 3.6 s at
sf0.1), the cosine stages in ``similarity`` (a 2-task 4.7 s
brute-force stage at sf1.0), the CLK encodes in ``pprl`` (1-task 12-15 s
stages at sf1.0), the tf-idf gram explode in ``er`` (2-task 6.3 s at sf1.0),
the BM25 explode in ``corpus`` and the transcripts derivation in
``sources.testdata``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)
