"""Candidate generation: shingles → MinHash → LSH banding → blocked self-join.

This replaces the reference's O(N²) fuzzy scan — a per-record full-corpus
Python loop (/root/reference/database.py:389-405 and media twins at
:445-460,:533-548,:588-603,:634-647) — with the standard scale-out rewrite:

  1. character ``k``-shingles of the whitespace-stripped document, hashed to
     64 bits by a vectorized numpy k-gram hasher;
  2. one-permutation MinHash (OPH, densified) over those hashes — steps 1
     and 2 are ONE Arrow-batched pandas UDF (``with_signature``): only
     strings cross the JVM↔Python boundary, never per-shingle arrays;
  3. LSH banding: the signature is cut into ``bands`` bands of
     ``rows_per_band`` hashes; each band hashes to one bucket key;
  4. candidates = self-join on ``(block_cols…, band_id, band_hash)`` with
     ``a.conv_id < b.conv_id`` — only same-block, same-bucket pairs are ever
     materialized. Blocking columns are the Spark analog of the reference's
     one-SQLite-file-per-subreddit partitioning (database.py:26-35).

Skew: a band bucket of size s yields s·(s−1)/2 pairs. Very large buckets are
(a) overwhelmingly exact-duplicate groups, which the sha fast path (J2)
already catches, and (b) the classic LSH skew bomb at 100 TB. Buckets larger
than ``max_band_bucket`` are therefore capped (``cap_band_pool``, shared by
the batch self-join and the incremental probe): we keep a deterministic sample
(the ``max_band_bucket`` smallest conv_ids) and COUNT the capped bucket in the
metrics output — never a silent drop. AQE skew-join splitting handles residual
imbalance at shuffle time.

At 10¹² turns: signatures are computed scan-side (narrow), the only wide ops
are the groupBy(conv_id) in assembly and the band-bucket self-join, both on
composite keys with near-uniform distribution after capping.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from repostcheckerbot_spark.config import PipelineConfig


#: fmix64 finalizer constants (MurmurHash3, public domain)
_FMIX_C1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX_C2 = np.uint64(0xC4CEB9FE1A85EC53)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 mixer (public domain) — uint64 in, well-scattered uint64 out."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _position_weights(k: int) -> np.ndarray:
    """k INDEPENDENTLY-mixed odd weights. (A first cut used golden·(2i+1) —
    all multiples of one constant, collapsing the hash to golden·Σb_i(2i+1)
    with only ~40k distinct values and massive k-gram collisions. SplitMix64
    per position removes the linear structure.)"""
    w = _splitmix64(np.arange(1, k + 1, dtype=np.uint64))
    return w | np.uint64(1)  # odd ⇒ bijective per byte position


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    """Vectorized 64-bit hashes of all character k-grams of ``text``.

    Sliding-window view over the UTF-8 bytes, dotted with per-position odd
    constants (uint64 wrap), then a murmur-style fmix64 finalizer — one
    O(k·n) numpy pass, no per-shingle Python. Deterministic across runs and
    partitions. Texts shorter than k hash as a single zero-padded window.
    """
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(raw) < k:
        raw = np.pad(raw, (0, k - len(raw)))
    win = np.lib.stride_tricks.sliding_window_view(raw, k).astype(np.uint64)
    h = (win * _position_weights(k)).sum(axis=1, dtype=np.uint64)
    h ^= h >> np.uint64(33)
    h *= _FMIX_C1
    h ^= h >> np.uint64(29)
    h *= _FMIX_C2
    h ^= h >> np.uint64(32)
    return h


def _oph_signature(hv: np.ndarray, num_hashes: int) -> np.ndarray:
    """One-permutation MinHash with rotation densification (Li/Owen/Zhang,
    NIPS'12; Shrivastava's densified variant — public algorithms): shingle
    hashes are split into ``num_hashes`` buckets by ``h mod k``; the signature
    entry is the bucket minimum; empty buckets borrow (rotate) from the next
    non-empty bucket, offset-mixed so borrowed slots only collide when the
    donors agree. O(|shingles|) — one numpy scatter-min."""
    sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
    bucket = (hv % np.uint64(num_hashes)).astype(np.int64)
    sig = np.full(num_hashes, sentinel, dtype=np.uint64)
    np.minimum.at(sig, bucket, hv)
    empty = sig == sentinel
    if empty.any():
        filled = np.where(~empty)[0]
        if len(filled) == 0:
            return np.zeros(num_hashes, dtype=np.int64)
        idx = np.arange(num_hashes)
        pos = np.searchsorted(filled, idx)
        donor = filled[pos % len(filled)]
        sig = np.where(empty, sig[donor] + (idx - donor).astype(np.uint64), sig)
    return sig.astype(np.int64)


def with_signature(docs: DataFrame, cfg: PipelineConfig, text_col: str = "norm_text") -> DataFrame:
    """Fused production path: text → OPH MinHash signature in ONE Arrow hop
    (k-gram hashing + scatter-min inside the same pandas UDF; only strings
    cross the JVM↔Python boundary, never per-shingle arrays)."""
    k, num_hashes = cfg.shingle_k, cfg.num_hashes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        zero = np.zeros(num_hashes, dtype=np.int64)
        return pd.Series(
            [
                _oph_signature(_kgram_hashes(t, k), num_hashes) if t else zero
                for t in texts
            ]
        )

    return docs.withColumn("minhash", sig_udf(F.col(text_col)))


def with_bands(docs_with_minhash: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Explode the signature into (band_id, band_hash) rows — one row per band.

    band_hash = xxhash64(band_id || the band's r signature values); two docs
    collide on a band iff those r MinHash values all agree.
    """
    b, r = cfg.bands, cfg.rows_per_band
    # hash the band's r signature LONGS natively (xxhash64 takes the int
    # band position + the sliced array directly). A previous cut rendered
    # the band to a STRING first (cast + array_join + concat per band —
    # 3.2M interpreted string builds per 50k docs, measured ~60 s of JVM
    # CPU in the banding stage at 10× bench scale); equality semantics are
    # unchanged — two docs collide on band j iff their r values agree, and
    # spurious 64-bit collisions are the same class as before.
    bands_expr = (
        f"transform(sequence(0, {b - 1}),"
        f" j -> struct(j as band_id,"
        f" xxhash64(j, slice(minhash, j * {r} + 1, {r})) as band_hash))"
    )
    return docs_with_minhash.withColumn("band", F.explode(F.expr(bands_expr))).select(
        "*", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    ).drop("band")


def cap_band_pool(slim: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Deterministic band-bucket cap: keep the ``max_band_bucket`` smallest
    conv_ids of every ``(block_cols…, band_id, band_hash)`` bucket.

    The result keeps the bucket key and ``conv_id`` of ``slim`` and adds
    ``_rn`` (rank by conv_id in the bucket) and ``_sz`` (the PRE-cap bucket
    size), so the ``_rn == 1`` row of a bucket reports its size and whether
    it was capped. One window pass, partitioned on the bucket key."""
    key = [*cfg.block_cols, "band_id", "band_hash"]
    w = Window.partitionBy(*key)
    return slim.select(
        *key,
        "conv_id",
        F.row_number().over(w.orderBy("conv_id")).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_sz"),
    ).where(F.col("_rn") <= cfg.max_band_bucket)


def candidate_pairs(
    banded: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Blocked LSH self-join → distinct candidate (conv_id_a < conv_id_b) pairs.

    Returns (pairs, bucket_metrics):
      pairs          — columns: block key cols + conv_id_a, conv_id_b
      bucket_metrics — per-bucket sizes for buckets that hit the cap
                       (band_id, band_hash, bucket_size, kept) — skew lineage,
                       required explicit by the north rule.
    """
    key = [*cfg.block_cols, "band_id", "band_hash"]
    # Shape matters MORE than operator count: the self-join below must shuffle
    # on ``key`` anyway, so the cap window, PARTITIONED ON THE JOIN KEY, rides
    # that same exchange — the sort is nearly free and, because both join
    # sides are the identical subplan, ReuseExchange computes the signature
    # UDF exactly once. (An r2 variant replaced the window with a
    # sizes-aggregate + broadcast anti/semi + union to avoid the sort; it
    # broke exchange reuse, recomputed the UDF per branch, and regressed the
    # flagship ~48% — reverted, with the bucket size now computed inside the
    # SAME window pass so the skew metrics cost no extra aggregation.)
    capped = cap_band_pool(banded, cfg)
    # over-cap buckets: one row each (the _rn==1 representative carries the
    # full pre-cap size) — derived from `capped`, so any persist of the
    # candidate frame covers the metrics too.
    bucket_metrics = capped.where(
        (F.col("_rn") == 1) & (F.col("_sz") > cfg.max_band_bucket)
    ).select(*key, F.col("_sz").alias("bucket_size"), F.lit(cfg.max_band_bucket).alias("kept"))
    capped = capped.drop("_rn", "_sz")

    a = capped.alias("a")
    # SHUFFLE_MERGE: Catalyst's static size estimate broadcasts the banded
    # side at small SF, which plans a BroadcastExchange over a SECOND copy of
    # the assembly+signature subtree (the UDF runs twice). A sort-merge join
    # shuffles both sides on `key` with IDENTICAL subplans → ReuseExchange
    # computes the subtree once — and is the only join that exists at 100 TB
    # anyway (the banded side is never broadcastable at scale).
    b = capped.hint("SHUFFLE_MERGE").alias("b")
    join_cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key]
    pairs = (
        a.join(b, join_cond, "inner")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            *[F.col(f"a.{c}").alias(c) for c in cfg.block_cols],
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
        )
        .dropDuplicates(["conv_id_a", "conv_id_b"])
    )
    return pairs, bucket_metrics


def sorted_neighborhood_pairs(
    records: DataFrame,
    order_cols: list[str],
    window: int,
    id_col: str = "rec_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995 — the
    classic merge/purge method, complementing the LSH channel for fields
    where SIMILAR means NEARBY UNDER A SORT, e.g. numeric balances or dates):
    totally order records by ``order_cols`` + ``id_col`` (the id tie-break
    makes the order total, hence the output deterministic), slide a window
    of ``window`` records, and emit every pair co-occurring in some window —
    equivalently, all pairs at global-rank distance 1..window-1.

    Returns (id_a, id_b, rank_distance) with id_a the earlier-ranked record.

    Scale shape — the naive ``row_number() OVER (ORDER BY …)`` collapses to
    ONE partition, so the global rank is built the distributed way:

      1. ``repartitionByRange`` on the sort key (one range exchange of SLIM
         rows: id + keys only);
      2. per-partition ``row_number`` (range partitions are contiguous under
         the sort, so local order is a segment of global order); the window
         partitioner re-clusters by partition id — a second slim exchange;
      3. partition sizes → cumulative offsets: a window over #partitions
         rows, not the data;
      4. global rank = local rank + broadcast offset;
      5. pairs = equi-join on ``rank + d`` for exploded d ∈ 1..window-1 —
         a shuffle join on dense integer keys (never a BNLJ), and windows
         straddle range-partition boundaries for free because the join key
         is the GLOBAL rank.

    The reference's analog is the per-subreddit newest-first scan order
    (database.py:389-405) — here the sort key is caller-chosen and the
    neighborhood is a real blocking predicate.
    """
    keys = [F.col(c) for c in order_cols] + [F.col(id_col)]
    slim = records.select(id_col, *order_cols)
    base = (
        slim.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else slim.repartitionByRange(*keys)
    )
    part = base.withColumn("_pid", F.spark_partition_id())
    local = part.withColumn(
        "_lr", F.row_number().over(Window.partitionBy("_pid").orderBy(*keys))
    )
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = sizes.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_pid", "_off")
    ranked = local.join(F.broadcast(offsets), "_pid").select(
        F.col(id_col), (F.col("_lr") + F.col("_off")).alias("_rank")
    )
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("_rank"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("rank_distance"),
    ).withColumn("_rb", F.col("_rank") + F.col("rank_distance"))
    right = ranked.select(F.col(id_col).alias("id_b"), F.col("_rank").alias("_rb"))
    return left.join(right, "_rb").select("id_a", "id_b", "rank_distance")


def metablocking_pairs(
    assignments: DataFrame,
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("band_id", "band_hash"),
    min_common: int = 2,
) -> DataFrame:
    """Meta-blocking (Papadakis et al., TKDE 2013/2014 — public technique):
    treat block assignments as a BLOCK GRAPH, weight every co-occurring
    record pair, and PRUNE low-weight pairs before any expensive scorer
    runs. Weights emitted per pair:

    - ``n_common`` — CBS (common-blocks scheme): how many blocks the pair
      shares; pure count.
    - ``js_millionths`` — the Jaccard scheme: n_common·10⁶ div
      (|blocks_a| + |blocks_b| − n_common), truncating integer division so
      DuckDB (``//``) states the identical value.

    ``min_common ≥ 2`` is weight-threshold pruning: a pair must collide in
    at least that many independent blocks to survive — the standard cheap
    precision lift over raw LSH banding (colliding in 2+ of b independent
    bands ≈ squaring the false-positive rate at mild recall cost).

    Scale shape: one equi-join on the block key (same cost class as the LSH
    candidate join — callers must cap pathological block sizes upstream,
    e.g. banded_md5 buckets or candidate_pairs' max_band_bucket), one
    groupBy on pair keys (replaces the candidate join's ``distinct`` — same
    shuffle, now carrying a count), plus one groupBy(id) for per-record
    block degrees joined back by id. No new quadratic term beyond the
    candidate join itself.
    """
    keys = list(block_cols)
    # three consumers (both join sides + degrees) would re-run the caller's
    # assignment lineage — typically a signature UDF — three times; lazy
    # checkpoint computes it once (pipeline.py's multi-consumer pattern)
    slim = assignments.select(id_col, *keys).localCheckpoint(eager=False)
    a = slim.toDF(*(["_ida"] + keys))
    b = slim.toDF(*(["_idb"] + keys))
    common = (
        a.join(b, keys)
        .where(F.col("_ida") < F.col("_idb"))
        .groupBy("_ida", "_idb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    degrees = slim.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    out = (
        common.join(degrees.select(F.col(id_col).alias("_ida"), F.col("_deg").alias("_da")), "_ida")
        .join(degrees.select(F.col(id_col).alias("_idb"), F.col("_deg").alias("_db")), "_idb")
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "n_common",
            F.expr("(n_common * 1000000) div (_da + _db - n_common)").alias("js_millionths"),
        )
    )
    return out


def generate_candidates(
    docs: DataFrame, cfg: PipelineConfig, spread: bool = True
) -> tuple[DataFrame, DataFrame]:
    """docs → (candidate pairs, bucket skew metrics). One-stop composition
    (fused text→signature UDF; see with_signature).

    The signature frame is slimmed to (block cols, conv_id, minhash) BEFORE
    the ×bands explode: exploding full-width doc rows (multi-KB texts) copies
    every byte ``bands`` times — measured 41 s vs 6 s at bench scale.

    ``spread``: repartition docs to the executor pool before the CPU-bound
    signature UDF. Standalone callers hand in the ASSEMBLY OUTPUT, whose
    reduce side AQE coalesces to a handful of byte-sized partitions — the
    signature stage then runs that narrow (bytes-based coalescing is blind
    to Python CPU; the runtime partition count is not even visible to a
    conditional check because the AQE plan hasn't executed yet). Callers
    that already spread+checkpointed the docs (run_batch) pass False so
    the exchange isn't paid twice.
    """
    if spread:
        # repartition on xxhash64(conv_id), NOT conv_id: standalone callers
        # hand in the assembly output, which is ALREADY hash-partitioned by
        # conv_id — a same-key same-count repartition is statically elided
        # and the UDF then runs at the assembly exchange's AQE-coalesced
        # width (measured 16 tasks on the 32-core pool at 10× bench scale).
        # Hashing the key changes the partitioning expression so the spread
        # exchange survives; still deterministic (derived from data, safe
        # under task retries) and uniform.
        docs = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism,
            F.xxhash64("conv_id"),
        )
    sig = with_signature(docs, cfg).select(*cfg.block_cols, "conv_id", "minhash")
    banded = with_bands(sig, cfg)
    return candidate_pairs(banded, cfg)
