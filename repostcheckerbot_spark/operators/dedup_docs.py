"""Deduplication family over the ``documents`` table — the training-data-
pipeline generalization of the reference's repost detection.

Variants (each a `queries()` entry with a DuckDB oracle where the hash is
portable):

- exact_dedup        — hash-groupBy on normalized text (portable: sha/md5)
- minhash_md5        — MinHash with md5 as the hash family (portable — DuckDB
                       computes the identical signature)
- lsh_candidates_md5 — banded LSH over the md5 MinHash (portable)
- ngram_jaccard      — exact n-gram Jaccard similarity join (set-based; the
                       verify-stage ground truth for MinHash estimates)
- simhash            — 64-bit SimHash over word tokens via per-bit majority
                       (portable: md5-derived bits + integer arithmetic)

The production pipeline uses the xxhash64 family (blocking.py) — faster, JVM-
native. The md5 family here exists so correctness is *oracle-checkable*; the
algorithms are identical up to the hash function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism


def normalized(docs: DataFrame, text_col: str = "text") -> DataFrame:
    # translate == regexp_replace(\s+ → "") for the Java \s class (see
    # functions.text.normalize_ws) — same values, no regex pass
    return docs.withColumn("norm_text", F.translate(F.col(text_col), " \t\n\x0b\f\r", ""))


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents: one row per
    duplicated content hash with the member count and the keeper (min id)."""
    return (
        normalized(spread_to_parallelism(docs))
        .withColumn("content_md5", F.md5("norm_text"))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """The dedup itself: keep the min doc_id per content hash (the distributed
    rendering of dropDuplicates with a deterministic survivor)."""
    ranked = normalized(spread_to_parallelism(docs)).withColumn("content_md5", F.md5("norm_text"))
    keepers = ranked.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    return ranked.join(keepers, ["content_md5", "doc_id"], "left_semi").select(docs.columns)


def _shingle_expr(col: str, k: int) -> str:
    return (
        f"array_distinct(transform(sequence(1, greatest(length({col}) - {k - 1}, 1)),"
        f" i -> substring({col}, i, {k})))"
    )


def minhash_md5_signatures(docs: DataFrame, k: int = 5, num_hashes: int = 8) -> DataFrame:
    """Portable MinHash signature in ONE Arrow pass: ``(doc_id,
    sig: array<string>)`` with sig[s] = min over distinct k-shingles of
    md5(str(s) || ':' || shingle) as lowercase hex.

    Values are bit-identical to the SQL formula (min over hex strings ==
    min over digest bytes: fixed-length lowercase hex is order-preserving).
    A first cut computed this with nested higher-order ``transform(...md5...)``
    expressions — Spark interprets HOF lambdas per element (~1 µs each), and
    the ×num_hashes re-hash of every shingle dominated the whole bench
    (18.9 s at sf0.1 for what is <1 s of hashlib work). Same treatment as the
    simhash fix in 56c0812: hash inside one pandas UDF, only strings cross
    the JVM↔Python boundary.
    """
    import hashlib

    import numpy as np
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        # Batch-level shingle dedup: planted duplicates and near-duplicates
        # share most of their k-shingles, so hashing each DISTINCT shingle
        # once per batch (instead of once per containing doc) cuts the md5
        # call count by the corpus duplication factor; the per-doc minimum
        # then reduces over a numpy view of the shared hash table. Values
        # are bit-identical to the per-doc formulation (md5 of the same
        # (seed, shingle) bytes; min over the same per-doc set — min over
        # fixed-length digests == min over their lowercase hex).
        doc_sets: list[set | None] = []
        vocab: dict[str, int] = {}
        for t in texts:
            if t is None:
                doc_sets.append(None)
                continue
            # shingle positions mirror sequence(1, greatest(length-k+1, 1)):
            # texts shorter than k yield the single (short) prefix shingle.
            sh = {t[i : i + k] for i in range(max(len(t) - (k - 1), 1))}
            doc_sets.append({vocab.setdefault(s, len(vocab)) for s in sh})
        n_vocab = len(vocab)
        # digest table as big-endian (hi, lo) uint64 pairs: unsigned order
        # on (hi, lo) == byte-wise order on the raw 16-byte digest == order
        # on the lowercase hex string, so the per-doc minimum reduces over
        # two numeric numpy passes and the hex re-materializes from the
        # minimum itself.
        enc = [b""] * n_vocab
        for s, idx in vocab.items():
            enc[idx] = s.encode("utf-8")
        buf = bytearray(16 * n_vocab)
        his = np.empty((num_hashes, n_vocab), dtype=np.uint64)
        los = np.empty((num_hashes, n_vocab), dtype=np.uint64)
        for seed in range(num_hashes):
            prefix = b"%d:" % seed
            for idx, e in enumerate(enc):
                buf[idx * 16 : idx * 16 + 16] = hashlib.md5(prefix + e).digest()
            words = np.frombuffer(bytes(buf), dtype=">u8").reshape(n_vocab, 2)
            his[seed] = words[:, 0]
            los[seed] = words[:, 1]
        out = []
        for ids in doc_sets:
            if ids is None:
                out.append(None)
                continue
            idx = np.fromiter(ids, dtype=np.int64, count=len(ids))
            sig = []
            for seed in range(num_hashes):
                h = his[seed, idx]
                m = h.min()
                ml = los[seed, idx][h == m].min()
                sig.append(f"{int(m):016x}{int(ml):016x}")
            out.append(sig)
        return pd.Series(out)

    return spread_to_parallelism(normalized(docs)).select("doc_id", sig_udf(F.col("norm_text")).alias("sig"))


def minhash_md5(docs: DataFrame, k: int = 5, num_hashes: int = 8) -> DataFrame:
    """Portable MinHash: one row per (doc_id, seed, minhash) so the oracle
    compare is hash-order-insensitive and type-simple. Narrow: posexplode of
    the single-pass signature array, no shuffle."""
    sig = minhash_md5_signatures(docs, k=k, num_hashes=num_hashes)
    return sig.select("doc_id", F.posexplode("sig").alias("seed", "minhash"))


def banded_md5(docs: DataFrame, k: int = 5, bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Band-bucket assignments over the md5 MinHash: one row per
    (doc_id, band_id, band_hash).

    band_hash = md5 of the band's r minhashes sorted ascending, comma-joined —
    identical to the oracle's ``md5(string_agg(minhash, ',' ORDER BY
    minhash))``. Computed scan-side from the signature array (no groupBy
    shuffle). Shared by the LSH candidate join and metablocking weighting.
    """
    r = rows_per_band
    sig = minhash_md5_signatures(docs, k=k, num_hashes=bands * rows_per_band)
    band_expr = (
        f"transform(sequence(0, {bands - 1}),"
        f" j -> struct(j as band_id,"
        f" md5(array_join(array_sort(slice(sig, j * {r} + 1, {r})), ',')) as band_hash))"
    )
    return sig.select("doc_id", F.explode(F.expr(band_expr)).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def lsh_candidates_md5(docs: DataFrame, k: int = 5, bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Banded LSH over the md5 MinHash: candidate (doc_id_a < doc_id_b) pairs
    sharing at least one band bucket. The only wide op is the banded
    equi-join (see banded_md5)."""
    # lazy lineage cut: both self-join sides otherwise re-run the md5
    # signature UDF subtree (the broadcast build side cannot reuse the probe
    # side's exchange) — measured as two back-to-back 4 s × 32-task UDF
    # stages at sf1.0. Same pattern as the simhash signature checkpoint.
    banded = banded_md5(docs, k=k, bands=bands, rows_per_band=rows_per_band).localCheckpoint(
        eager=False
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )


#: default document-frequency cap for the shingle self-join: shingles present
#: in more than this fraction of documents are excluded from the similarity
#: statistic (standard frequency/prefix filtering for set-similarity joins).
NGRAM_MAX_DF_FRAC = 0.2
#: absolute floor on the cap — a shingle is never "hot" below this document
#: frequency, so tiny corpora (tests) keep every shingle.
NGRAM_DF_FLOOR = 5


def _df_threshold(n_docs_col):
    return F.greatest(n_docs_col * NGRAM_MAX_DF_FRAC, F.lit(float(NGRAM_DF_FLOOR)))


def hot_shingles(docs: DataFrame, k: int = 5, max_df_frac: float = NGRAM_MAX_DF_FRAC) -> DataFrame:
    """The shingles the DF cap excludes: (sh, df) with df > max(max_df_frac·N,
    NGRAM_DF_FLOOR). Exposed so callers can COUNT the exclusions
    (no-silent-caps rule — the cap is part of the declared statistic, never a
    hidden drop)."""
    ex = _distinct_shingles(docs, k)
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n_docs)
        .where(F.col("df") > F.greatest(F.col("n_docs") * max_df_frac, F.lit(float(NGRAM_DF_FLOOR))))
        .select("sh", "df")
    )


def _distinct_shingles(docs: DataFrame, k: int) -> DataFrame:
    n = normalized(docs).withColumn("shingles", F.expr(_shingle_expr("norm_text", k)))
    return n.select("doc_id", F.explode("shingles").alias("sh"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 5,
    min_jaccard: float = 0.3,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact character-k-gram Jaccard similarity join (doc_id_a < doc_id_b).

    DEFAULT IS THE EXACT STATISTIC (``max_df_frac=None``): Jaccard over the
    full k-gram sets. Scale-sensitive call sites opt into the DF cap
    explicitly (``max_df_frac=NGRAM_MAX_DF_FRAC``), which changes the
    statistic to Jaccard over the RARE-shingle sets (document frequency ≤
    max_df_frac·N) — a deliberate semantic change that must be visible at the
    call site, not a silent library default.

    Set-based plan: explode distinct shingles → drop hot shingles (one
    ubiquitous k-gram would place a large fraction of all docs in a single
    join bucket: O(s²) intersection rows on that key — the skew bomb the LSH
    path caps via max_band_bucket, blocking.py:21-27) → self-join on shingle
    → count(∩) per pair → |∪| = |A|+|B|−|∩| with sizes RE-COMPUTED on the
    filtered sets, so the emitted ``jaccard`` is exactly the Jaccard of the
    rare-shingle sets. The cap is part of the declared statistic (mirrored
    verbatim in the DuckDB oracle), and the dropped shingles are enumerable
    via :func:`hot_shingles` — no silent truncation. Pass
    ``max_df_frac=None`` for the uncapped statistic at small scale.
    """
    ex = _distinct_shingles(docs, k)
    if max_df_frac is not None:
        n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
        df = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).crossJoin(F.broadcast(n_docs))
        keep = df.where(
            F.col("df") <= F.greatest(F.col("n_docs") * max_df_frac, F.lit(float(NGRAM_DF_FLOOR)))
        ).select("sh")
        ex = ex.join(keep, "sh", "left_semi")
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_id_a").withColumnRenamed("n_sh", "n_a"), "doc_id_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("n_sh", "n_b"), "doc_id_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    k: int = 5,
    min_containment: float = 0.8,
    max_df_frac: float | None = None,
) -> DataFrame:
    """ASYMMETRIC containment join: C(A→B) = |A∩B| / |A| over character
    k-gram sets — the subset/quotation detector that resemblance Jaccard
    misses. A short document fully quoted inside a long one has Jaccard
    ≈ |A|/|B| (tiny) but containment 1.0 on the short side; training-data
    dedup wants exactly that direction (drop the contained doc, keep the
    container).

    Emits one row per ORDERED direction clearing ``min_containment``:
    (doc_id_contained, doc_id_container, containment_micros) — both rows
    appear when containment is mutual. ``containment_micros`` is the pure
    integer ``(|∩|·10⁶) div |contained|`` (truncating division — bit-equal
    in Spark and DuckDB, no float anywhere).

    Same set-based plan and optional hot-shingle DF cap as
    :func:`ngram_jaccard_pairs` (the cap changes the statistic to
    rare-shingle containment — call-site opt-in, enumerable exclusions,
    identical skew argument). One shingle self-join + one pair groupBy; the
    directional emit is a narrow post-projection.
    """
    ex = _distinct_shingles(docs, k)
    if max_df_frac is not None:
        n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
        df = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).crossJoin(F.broadcast(n_docs))
        keep = df.where(
            F.col("df") <= F.greatest(F.col("n_docs") * max_df_frac, F.lit(float(NGRAM_DF_FLOOR)))
        ).select("sh")
        ex = ex.join(keep, "sh", "left_semi")
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    both = inter.join(
        sizes.withColumnRenamed("doc_id", "doc_id_a").withColumnRenamed("n_sh", "n_a"),
        "doc_id_a",
    ).join(
        sizes.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("n_sh", "n_b"),
        "doc_id_b",
    )
    a_in_b = both.select(
        F.col("doc_id_a").alias("doc_id_contained"),
        F.col("doc_id_b").alias("doc_id_container"),
        F.expr("(n_inter * 1000000) div n_a").alias("containment_micros"),
    )
    b_in_a = both.select(
        F.col("doc_id_b").alias("doc_id_contained"),
        F.col("doc_id_a").alias("doc_id_container"),
        F.expr("(n_inter * 1000000) div n_b").alias("containment_micros"),
    )
    return a_in_b.unionByName(b_in_a).where(
        F.col("containment_micros") >= int(min_containment * 1_000_000)
    )


#: hex-digit lookup shared with the oracle (1-based position - 1 = value)
HEX_DIGITS = "0123456789abcdef"


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over lower-cased whitespace word tokens.

    Portable construction (DuckDB states the identical formula): token bit b
    = bit (b mod 4) of the hex digit at position 1 + b//4 of md5(token); the
    simhash bit is the majority vote over tokens. Emitted as two 32-bit
    halves (sim_hi, sim_lo) so XOR/bit_count stay in signed-long-safe range.

    Computed in ONE Arrow-batched pandas UDF pass (md5 per token + numpy
    nibble-unpack + vote matrix). A first cut exploded 64 bit-rows per token
    through two shuffles — 19M rows and 15 s at sf0.1 for what is ~1 s of
    vectorized work; the values are bit-identical (hex-digit construction
    below matches the SQL formula: digest byte → high/low nibble = hex digit,
    nibble bit (b mod 4) = the SQL's div/pow/mod chain).
    """
    import hashlib
    import re

    import numpy as np
    from pyspark.sql import types as T

    ws = re.compile(r"\s+")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def simhash_udf(texts: pd.Series) -> pd.Series:
        # Batch-level token dedup (same pattern as the minhash signature
        # UDF): md5 each DISTINCT token of the Arrow batch once — planted
        # duplicates/near-duplicates share most tokens — then form each
        # doc's vote vector as counts @ signs over the shared ±1 bit
        # matrix. Integer votes are order-independent sums, so the result
        # is bit-identical to the per-occurrence formulation.
        weights_lo = (1 << np.arange(32, dtype=np.int64))
        vocab: dict[str, int] = {}
        doc_tok_ids: list[np.ndarray | None] = []
        for t in texts:
            toks = [x for x in ws.split((t or "").lower().strip()) if x]
            if not toks:
                doc_tok_ids.append(None)
                continue
            doc_tok_ids.append(
                np.fromiter((vocab.setdefault(x, len(vocab)) for x in toks), dtype=np.int64, count=len(toks))
            )
        n_vocab = len(vocab)
        signs = np.empty((max(n_vocab, 1), 64), dtype=np.int32)
        if n_vocab:
            enc = [b""] * n_vocab
            for s, idx in vocab.items():
                enc[idx] = s.encode("utf-8")
            digests = np.frombuffer(
                b"".join(hashlib.md5(e).digest() for e in enc), dtype=np.uint8
            ).reshape(n_vocab, 16)
            # hex digit j of the md5 string = high nibble (j even) / low
            # nibble (j odd) of digest byte j//2; bit b uses digit b//4,
            # bit position (b % 4) — LSB-first within the digit, matching
            # (digit div 2^(b%4)) % 2 in the SQL oracle.
            nibbles = np.empty((n_vocab, 32), dtype=np.uint8)
            nibbles[:, 0::2] = digests >> 4
            nibbles[:, 1::2] = digests & 0x0F
            digits = nibbles[:, :16]  # bits 0..63 use hex digits 0..15
            bits = (digits[:, :, None] >> np.arange(4)[None, None, :]) & 1  # (v,16,4)
            signs = bits.reshape(n_vocab, 64).astype(np.int32) * 2 - 1
        his, los = [], []
        for ids in doc_tok_ids:
            if ids is None:
                his.append(0)
                los.append(0)
                continue
            uniq, cnts = np.unique(ids, return_counts=True)
            votes = cnts.astype(np.int64) @ signs[uniq]
            bitval = (votes > 0).astype(np.int64)
            los.append(int((bitval[:32] * weights_lo).sum()))
            his.append(int((bitval[32:] * weights_lo).sum()))
        return pd.Series([[h, l] for h, l in zip(his, los)])

    return spread_to_parallelism(docs.select("doc_id", "text")).select(
        "doc_id", simhash_udf(F.col("text")).alias("s")
    ).select("doc_id", F.col("s")[0].alias("sim_hi"), F.col("s")[1].alias("sim_lo"))


def simhash_chunk_bounds(num_chunks: int) -> list[tuple[int, int]]:
    """Near-even [start, end) bit ranges partitioning the 64-bit simhash into
    ``num_chunks`` chunks. Shared by the Spark plan and the SQL oracle so both
    engines state the identical blocking."""
    return [
        (round(64 * i / num_chunks), round(64 * (i + 1) / num_chunks))
        for i in range(num_chunks)
    ]


def _chunk_parts(b0: int, b1: int) -> tuple[int, int, int, int, int]:
    """Decompose bit range [b0, b1) of the conceptual 64-bit simhash into its
    sim_lo (bits 0..31) and sim_hi (bits 32..63) pieces. Returns
    (lo_shift, lo_width, hi_shift, hi_width, lo_bits_in_chunk); a width of 0
    means that half contributes nothing. The halves are never combined into
    one 64-bit value (sim_hi·2³² overflows signed 64 when bit 63 is set)."""
    lo_width = max(min(b1, 32) - b0, 0) if b0 < 32 else 0
    hi_start = max(b0, 32)
    hi_width = max(b1 - hi_start, 0)
    return (b0, lo_width, hi_start - 32, hi_width, lo_width)


def simhash_chunk_exprs(
    num_chunks: int, dialect: str, hi: str = "sim_hi", lo: str = "sim_lo"
) -> list[str]:
    """Per-chunk extraction expressions over (``hi``, ``lo``) — one string per
    chunk, for ``dialect`` in {'spark', 'duckdb'}. chunk_val = the chunk's
    bits as an integer (lo-half bits in the low positions). The column names
    are parameterised so the earliest-agreeing-chunk filter can re-state the
    same chunk over both sides of the candidate join (ah/al vs bh/bl)."""
    exprs = []
    for b0, b1 in simhash_chunk_bounds(num_chunks):
        lo_shift, lo_width, hi_shift, hi_width, lo_bits = _chunk_parts(b0, b1)
        parts = []
        if lo_width:
            if dialect == "spark":
                parts.append(f"(shiftright({lo}, {lo_shift}) & {(1 << lo_width) - 1})")
            else:
                parts.append(f"(({lo} // {1 << lo_shift}) % {1 << lo_width})")
        if hi_width:
            scale = 1 << lo_bits
            if dialect == "spark":
                h = f"(shiftright({hi}, {hi_shift}) & {(1 << hi_width) - 1})"
            else:
                h = f"(({hi} // {1 << hi_shift}) % {1 << hi_width})"
            parts.append(f"{h} * {scale}" if lo_bits else h)
        exprs.append(" + ".join(parts))
    return exprs


def simhash_combo_keys(num_chunks: int, combo_size: int, max_hamming: int) -> list[str]:
    """Manku/Jain/Das Sarma (WWW'07, public algorithm) block-combination keys:
    one xxhash64 expression per ``combo_size``-subset of the ``num_chunks``
    simhash chunks. Pigeonhole: a pair with hamming ≤ max_hamming − 1 has at
    least ``num_chunks − (max_hamming − 1)`` untouched chunks, so as long as
    ``combo_size ≤ num_chunks − (max_hamming − 1)`` it agrees on at least one
    whole subset — recall 1.0 by construction, like the single-chunk scheme,
    but each key carries combo_size·(64/num_chunks) bits instead of
    64/num_chunks: buckets are exponentially finer (the >10⁸-doc regime) at
    C(num_chunks, combo_size) index rows per doc."""
    import itertools

    d = max_hamming - 1
    if combo_size > num_chunks - d:
        raise ValueError(
            f"combo_size={combo_size} breaks the pigeonhole guarantee: need "
            f"combo_size <= num_chunks - (max_hamming-1) = {num_chunks - d}"
        )
    chunk_exprs = simhash_chunk_exprs(num_chunks, "spark")
    keys = []
    for subset in itertools.combinations(range(num_chunks), combo_size):
        concat = ", ',', ".join(f"cast({chunk_exprs[i]} as string)" for i in subset)
        keys.append(f"xxhash64(concat({concat}))")
    return keys


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 6, num_chunks: int | None = None, combo_size: int = 1
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the reference's
    dhash-Hamming accept rule re-expressed (hamming < thresh, strictly,
    database.py:451,594; score = ((thresh-d)/thresh)*100, database.py:454).

    Candidate generation is PIGEONHOLE CHUNKING: the 64-bit simhash is split
    into ``max_hamming`` near-even bit chunks; any pair with hamming ≤
    max_hamming − 1 (i.e. every accepted pair under the strict ``<`` rule)
    has fewer differing bits than chunks, so at least one chunk is identical
    — candidates are exactly the pairs agreeing on ≥1 (chunk_id, chunk_val)
    key. Recall is therefore 1.0 by construction. The plan is ONE equi-join
    on the composite key (explode ×num_chunks, hash-join, dedup pairs,
    Hamming filter): a previous cut joined on ``(hi=hi OR lo=lo)``, which
    Catalyst cannot hash-join — it planned as a BroadcastNestedLoopJoin
    (O(N²) compares) AND missed pairs whose differing bits span both halves.
    test_extensions asserts the plan contains no BNLJ/CartesianProduct and
    that recall vs the brute-force join is exhaustive.

    Bucket-width regime: a chunk carries 64/num_chunks bits, so expected
    bucket size is N/2^(64/c) — fine up to ~10⁸ docs at the default
    single-chunk keys (c = max_hamming, combo_size = 1). Beyond that, pass
    ``num_chunks > max_hamming`` and ``combo_size > 1`` to switch to the
    Manku/Jain/Das Sarma (WWW'07) block-combination keys built by
    :func:`simhash_combo_keys`: same pigeonhole recall-1.0 guarantee
    (enforced at the flag boundary), combo_size·(64/num_chunks)-bit buckets,
    C(num_chunks, combo_size) index rows per doc. The join shape is
    IDENTICAL — only the key builder swaps.
    """
    if num_chunks is None:
        num_chunks = max(1, min(max_hamming, 64))
    if combo_size == 1:
        key_exprs = simhash_chunk_exprs(num_chunks, "spark")
        if num_chunks > 64 or num_chunks - (max_hamming - 1) < 1:
            raise ValueError(f"num_chunks={num_chunks} breaks the pigeonhole guarantee")
    else:
        key_exprs = simhash_combo_keys(num_chunks, combo_size, max_hamming)
    # lazy lineage cut: the self-join otherwise plans TWO independent
    # ArrowEvalPython subtrees (scan + Arrow signature pass each) — the
    # broadcast build side cannot reuse the probe side's exchange. One
    # shared materialization halves the Python-boundary work (guide §4).
    s = simhash64(docs).localCheckpoint(eager=False)
    chunk_structs = ", ".join(
        f"struct({i} as chunk_id, {e} as chunk_val)" for i, e in enumerate(key_exprs)
    )
    chunks = s.select(
        "doc_id", "sim_hi", "sim_lo", F.explode(F.expr(f"array({chunk_structs})")).alias("c")
    ).select("doc_id", "sim_hi", "sim_lo", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk_val").alias("chunk_val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    # Hamming is computed and filtered STRAIGHT OFF THE JOIN OUTPUT (2 xor +
    # 2 bit_count of columns already in flight — pure codegen), so the
    # candidate blowup (measured 511M candidate rows for 1.77M true pairs at
    # sf1.0: 8-bit chunk keys collide heavily at 50k docs) never reaches a
    # shuffle. A previous cut ran dropDuplicates FIRST, shipping every
    # candidate row (6 BIGINTs + first()-agg state) through an Exchange —
    # 226 s at sf1.0 for what is ~8 s of join+filter work (guide §2.3/§2.4:
    # filter ahead of the exchange, shuffle only survivors).
    cand = (
        a.join(b, ["chunk_id", "chunk_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("chunk_id").alias("chunk_id"),
            F.col("a.sim_hi").alias("ah"),
            F.col("a.sim_lo").alias("al"),
            F.col("b.sim_hi").alias("bh"),
            F.col("b.sim_lo").alias("bl"),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("ah").bitwiseXOR(F.col("bh"))) + F.bit_count(F.col("al").bitwiseXOR(F.col("bl"))),
        )
        .where(F.col("hamming") < max_hamming)
    )
    if combo_size == 1:
        # Earliest-agreeing-chunk emission (standard LSH dedup-free trick):
        # a qualifying pair is generated once per agreeing chunk; keep ONLY
        # the row whose chunk_id is the pair's minimal agreeing chunk — every
        # earlier chunk must DISagree. The chunk values of both sides are
        # restatements over (ah, al)/(bh, bl) already in flight, so the
        # whole dedup is one codegen'd Filter: zero exchanges in the
        # operator. Output rows are identical to dropDuplicates (the payload
        # is pair-determined).
        ea = simhash_chunk_exprs(num_chunks, "spark", hi="ah", lo="al")
        eb = simhash_chunk_exprs(num_chunks, "spark", hi="bh", lo="bl")
        no_earlier = " AND ".join(
            f"(chunk_id <= {j} OR ({ea[j]}) != ({eb[j]}))" for j in range(num_chunks - 1)
        )
        pairs = cand.where(F.expr(no_earlier)) if no_earlier else cand
    else:
        # combo keys are salted hashes of chunk subsets — re-stating them per
        # candidate row would rebuild strings per key; the surviving set is
        # already hamming-filtered and narrow, so a keyed dedup is cheap.
        pairs = cand.dropDuplicates(["doc_id_a", "doc_id_b"])
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        "hamming",
        F.round((max_hamming - F.col("hamming")) / max_hamming * 100.0, 6).alias("score"),
    )


def _prefix_frame(ex: DataFrame, min_jaccard_micros: int) -> DataFrame:
    """Canonical-order prefix of every doc's distinct-shingle set
    (df asc, shingle asc — rarest first): the first |s| − ⌈t·|s|⌉ + 1
    shingles, with their global rank ``_rnk`` and doc size ``n_sh``."""
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "sh")
    w_size = Window.partitionBy("doc_id")
    ranked = ex.join(dfreq, "sh").select(
        "doc_id",
        "sh",
        F.row_number().over(w_rank).alias("_rnk"),
        F.count(F.lit(1)).over(w_size).alias("n_sh"),
    )
    o_min = F.floor(
        (F.lit(min_jaccard_micros) * F.col("n_sh") + 999_999) / F.lit(1_000_000.0)
    )
    return ranked.where(F.col("_rnk") <= F.col("n_sh") - o_min + 1)


def _prefix_jaccard_candidates(
    prefix: DataFrame, min_jaccard_micros: int, positional_filter: bool
) -> DataFrame:
    """Candidate pairs from the ranked prefix frame (doc_id, sh, _rnk, n_sh):
    prefix-collision self-join with the PPJoin length filter and (optionally)
    the POSITIONAL filter (Xiao et al. WWW'08 §3.2). For a collision at
    canonical ranks (i, j), common shingles ordered before the current one
    number ≤ min(i,j) − 1 (they occupy ranks < i in a and < j in b), the
    current one is 1, and those after ≤ min(|a|−i, |b|−j) — so
    |a∩b| ≤ min(i,j) + min(|a|−i, |b|−j). If that upper bound is below the
    required overlap α = ⌈t·(|a|+|b|)/(1+t)⌉ (J ≥ t ⟺ inter ≥ α, the same
    integer algebra as the accept test), the collision cannot witness a
    qualifying pair. LOSSLESS for the pair set: a true pair satisfies the
    bound at EVERY common shingle, so all its collision rows survive.
    All-integer; zero statistic change. Split out so tests can assert the
    candidate count strictly shrinks while the accepted pairs stay equal."""
    join_cond = (
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: t·|a| ≤ |b| and t·|b| ≤ |a| (all-integer)
        & (F.lit(min_jaccard_micros) * F.col("a.n_sh") <= F.lit(1_000_000) * F.col("b.n_sh"))
        & (F.lit(min_jaccard_micros) * F.col("b.n_sh") <= F.lit(1_000_000) * F.col("a.n_sh"))
    )
    if positional_filter:
        alpha = F.floor(
            (
                F.lit(min_jaccard_micros) * (F.col("a.n_sh") + F.col("b.n_sh"))
                + F.lit(1_000_000 + min_jaccard_micros)
                - 1
            )
            / F.lit(float(1_000_000 + min_jaccard_micros))
        )
        ubound = F.least(F.col("a._rnk"), F.col("b._rnk")) + F.least(
            F.col("a.n_sh") - F.col("a._rnk"), F.col("b.n_sh") - F.col("b._rnk")
        )
        join_cond = join_cond & (ubound >= alpha)
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), join_cond)
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    k: int = 5,
    min_jaccard_micros: int = 300_000,
    positional_filter: bool = True,
) -> DataFrame:
    """EXACT character-k-gram Jaccard join via PREFIX FILTERING (Chaudhuri et
    al. ICDE'06 / Xiao et al. PPJoin, WWW'08 — public algorithms): recall 1.0
    with a candidate space far below the full inverted-index join, and no
    statistic change (unlike the DF-cap variant in ngram_jaccard_pairs).

    Pigeonhole: order every doc's shingle set by ONE global canonical order
    (document frequency asc, shingle asc — rarest first). If J(a,b) ≥ t then
    |a∩b| ≥ ⌈t·|a|⌉ and ≥ ⌈t·|b|⌉, so any such pair MUST collide inside the
    first |s| − ⌈t·|s|⌉ + 1 shingles of both docs. Joining only those
    prefixes finds every qualifying pair; an exact intersection count over
    the candidates then verifies the threshold.

    Engine-portable integer arithmetic throughout: the threshold is given in
    MILLIONTHS, ⌈t·n⌉ is computed as (t_micros·n + 999999) div 10⁶, and the
    accept test is n_inter·10⁶ ≥ t_micros·(n_a + n_b − n_inter) — no float
    in any decision, so the DuckDB oracle (which states the naive exact
    Jaccard with no prefix optimization at all) matches bit-for-bit.

    Scale shape: the prefix join keys are the globally RAREST shingles of
    each doc, plus the standard PPJoin LENGTH filter (J ≥ t ⇒ t·|a| ≤ |b| ≤
    |a|/t) and POSITIONAL filter (overlap upper bound from the collision
    ranks vs the required overlap α — see inline derivation) pruning the
    candidate join further; both are necessary conditions, so results are
    unchanged (tests assert the pair set is identical with the filters off
    and the candidate count strictly smaller with them on). Effectiveness is DATA-DEPENDENT: on Zipfian
    real-world corpora the rarest-prefix buckets are tiny; on an adversarial
    dense corpus (every shingle hot — e.g. a small-vocabulary synthetic) the
    prefixes stay hot and the exact verify dominates. For that regime use
    the probabilistic channels (MinHash-LSH / SimHash) or the DF-capped
    statistic — this operator is the EXACT-join primitive of the family.
    """
    ex = _distinct_shingles(docs, k).localCheckpoint(eager=False)
    prefix = _prefix_frame(ex, min_jaccard_micros)
    cand = _prefix_jaccard_candidates(prefix, min_jaccard_micros, positional_filter)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ea = ex.select(F.col("doc_id").alias("doc_id_a"), "sh")
    eb = ex.select(F.col("doc_id").alias("doc_id_b"), "sh")
    inter = (
        cand.join(ea, "doc_id_a")
        .join(eb, ["doc_id_b", "sh"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    un = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a")), "doc_id_a")
        .join(sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b")), "doc_id_b")
        .where(F.col("n_inter") * 1_000_000 >= F.lit(min_jaccard_micros) * un)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.floor(F.col("n_inter") * 1_000_000 / un).cast("long").alias("jaccard_micros"),
        )
    )
