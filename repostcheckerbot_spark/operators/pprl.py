"""Privacy-preserving record linkage (PPRL): CLK Bloom-filter encoding +
Dice-coefficient matching.

Public technique: Schnell, Bachteler & Reiher, "Privacy-preserving record
linkage using Bloom filters" (BMC Medical Informatics 2009) and the
follow-up Cryptographic Long-term Key (CLK) of Schnell et al. 2011. Each
data owner encodes its quasi-identifier fields (names, categories, ...)
into ONE fixed-length Bloom filter per record by hashing character bigrams
``k`` times with field-salted hash functions; the linkage unit sees only
the bit vectors and scores pairs with the Dice coefficient. A single-
character typo perturbs at most two bigrams, so high Dice survives noise
— the same fuzzy-match decision the reference makes on plaintext with
difflib ratios (reference database.py:395, the full-table
SequenceMatcher loop thresholded at database.py:396), generalized to the
setting where NO party may see the other party's plaintext.

Spark-first design:

- **Encoding is pure built-in column algebra** — md5 → conv → shiftleft →
  aggregate-OR — whole-stage-codegen'd, zero Python, zero shuffle: every
  record's CLK derives from its own bigram array in one projection.
- **m = 60 bits in one BIGINT**, so Hamming/Dice are two ``bit_count``
  calls. Production PPRL uses m ≈ 500-1000; 60 keeps the sandbox DuckDB
  oracle in a single BIGINT (DuckDB raises on ``1::BIGINT << 63``, so the
  top nibble stays clear by construction). The algebra is m-agnostic:
  :func:`clk_encode_wide` / :func:`clk_dice_pairs_wide` /
  :func:`dice_millionths_wide` implement the complete widened
  ``array<bigint>``-of-60-bit-words path — encode, pigeonhole chunk
  blocking, and Dice scoring (referee-verified at m = 120 in test_pprl
  and DuckDB-oracled end-to-end by pprl_clk_linkage_wide).
- **Candidate generation is pigeonhole chunk blocking**: the 60-bit CLK
  splits into 4 disjoint 15-bit chunks; any pair with Hamming distance
  ≤ 3 shares at least one chunk verbatim (same Manku-style scheme as
  ``dedup_docs.simhash_near_pairs``). Only chunk-cohabiting pairs are
  scored — an equi-join on (chunk_idx, chunk_value) that Catalyst plans
  as a shuffled hash/sort-merge join; AQE splits any hot chunk value.
  At 100 TB this is the standard LSH shape: 4× row replication, then a
  key-partitioned join — no broadcast of either side needed, no O(n²).
- **Scores are integer millionths** (``dice_millionths``) so the value
  hash is engine- and partitioning-stable (same convention as the
  Jaccard / Fellegi-Sunter paths — no float accumulation order anywhere).

Privacy caveat (documented, not solved here): plain CLKs are vulnerable
to frequency attacks when m is small; production deployments add salted
record-level keys / hardening (xor-folding, Bloom-and-flip). This module
implements the *linkage dataflow*, which is the Spark-shaped part.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism

#: CLK width in bits. Must stay ≤ 62 so every ``1 << pos`` fits a signed
#: BIGINT in BOTH engines (DuckDB raises on shifting into the sign bit).
CLK_BITS = 60

#: Hash functions per bigram (the classic double-hashing count is 2 in
#: the sandbox; production uses 15-30 at m ≈ 1000).
CLK_K = 2

#: Pigeonhole chunking for candidate generation: 4 chunks × 15 bits.
N_CHUNKS = 4
CHUNK_BITS = CLK_BITS // N_CHUNKS

MILLION = 1_000_000


def _bigram_masks_sql(field_expr: str, field_salt: str) -> str:
    """SQL fragment: array of per-bigram OR-masks for one normalized field.

    For each distinct character bigram ``g`` of ``lower(trim(field))`` the
    mask sets CLK_K bit positions, position_i = first-two-hex-digits of
    ``md5('<salt>:<i>:' || g)`` mod CLK_BITS — exactly reproducible in
    DuckDB via strpos-nibble arithmetic (see ``clk_oracle_bits_sql``).
    Records shorter than 2 chars contribute an empty array (NOT a
    descending Spark ``sequence``)."""
    nm = f"lower(trim(coalesce({field_expr}, '')))"
    gram = f"substring({nm}, i, 2)"
    masks = " | ".join(
        f"shiftleft(CAST(1 AS BIGINT), CAST(conv(substring(md5(concat('{field_salt}:{i}:', g)), 1, 2), 16, 10) AS INT) % {CLK_BITS})"
        for i in range(CLK_K)
    )
    return (
        f"CASE WHEN length({nm}) < 2 THEN CAST(array() AS array<bigint>) "
        f"ELSE transform(array_distinct(transform(sequence(1, length({nm}) - 1), i -> {gram})), g -> {masks}) END"
    )


def clk_encode(df: DataFrame, id_col: str, fields: list[str], out_col: str = "clk") -> DataFrame:
    """(id, quasi-identifier fields) → (id, clk BIGINT).

    One narrow projection per record — no explode, no shuffle, no Python.
    Fields are salted individually so the same bigram in different fields
    sets different bits (CLK composition per Schnell et al. 2011)."""
    mask_arrays = ", ".join(_bigram_masks_sql(f, f) for f in fields)
    clk = F.expr(f"aggregate(flatten(array({mask_arrays})), CAST(0 AS BIGINT), (acc, x) -> acc | x)")
    return spread_to_parallelism(df).select(F.col(id_col), clk.alias(out_col))


def _spread_cand(cand: DataFrame) -> DataFrame:
    """Round-robin the distinct-CLK candidate frame across the executor pool
    before scoring and record-pair expansion. The frame is BYTE-small (one
    row per distinct-encoding pair), so AQE's size-based coalescing collapses
    the distinct's output to one partition — and every downstream operator,
    including the expansion joins that each emit |members_a|·|members_b| rows
    per match, then runs single-task (measured: 1-task 11 s stages emitting
    117M rows at sf1.0 while 31 cores idle). Same CPU-vs-bytes rationale as
    the difflib/signature spreads (guide §2.5: AQE sizes by bytes, blind to
    downstream row amplification)."""
    return cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)


def _chunks(df: DataFrame, clk_col: str) -> DataFrame:
    """Explode each CLK into its N_CHUNKS (chunk_idx, chunk_value) keys,
    keeping the input columns. Arithmetic shift + mask ≡ logical shift
    for the kept low bits."""
    j = F.explode(F.sequence(F.lit(0), F.lit(N_CHUNKS - 1))).alias("chunk_idx")
    out = df.select("*", j)
    # SQL shiftright (unlike the Python wrapper) takes a column bit count
    chunk_val = F.expr(f"shiftright({clk_col}, chunk_idx * {CHUNK_BITS}) & {(1 << CHUNK_BITS) - 1}")
    return out.withColumn("chunk_val", chunk_val)


def dice_millionths(clk_a: str, clk_b: str) -> Column:
    """Integer Dice coefficient: (2·10⁶·|a∧b|) div (|a|+|b|) — pure integer
    arithmetic (repo-wide integer-parity convention, same as the wide path
    and the DuckDB ``//`` in the oracle). Args are column NAMES."""
    return F.expr(
        f"CAST((CAST({2 * MILLION} AS BIGINT) * bit_count({clk_a} & {clk_b}))"
        f" div (bit_count({clk_a}) + bit_count({clk_b})) AS BIGINT)"
    )


def clk_dice_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "rec_id",
    clk_col: str = "clk",
    threshold_millionths: int = 700_000,
) -> DataFrame:
    """Two-source PPRL matching: chunk-blocked Dice scoring.

    Exact-recall guarantee (pigeonhole): every pair with Hamming ≤
    N_CHUNKS - 1 = 3 is generated. High-Dice pairs of well-filled CLKs
    have small Hamming, so in practice the blocked join is a superset of
    the Dice-threshold matches of interest; the guarantee is stated in
    Hamming terms because Dice alone does not bound per-chunk disagreement
    (documented, same honesty convention as simhash_near_pairs).

    Returns (rec_id_a, rec_id_b, dice_millionths) for chunk-cohabiting
    pairs with Dice ≥ threshold and at least one set bit on each side.

    Scale shape: blocking + scoring run in DISTINCT-CLK space, then the
    matching encoding pairs expand back to record pairs. Identical
    records (and identically-encoding quasi-identifiers — the common case
    in dirty corpora) collapse to one value before the O(candidates)
    work, so the chunk join is bounded by distinct encodings, not
    records; cohabitation and Dice depend only on the CLK value, so the
    output is provably identical to the record-space join."""
    # one encode pass per side: the distinct-CLK subtree AND the expansion
    # join below otherwise each re-run the md5-per-bigram encode lineage
    # (two full encode stages per side in the plan) — a lazy lineage cut
    # materializes the slim (id, clk) frame once (same pattern as the
    # simhash signature checkpoint)
    left = left.localCheckpoint(eager=False)
    right = right.localCheckpoint(eager=False)
    # filter AFTER distinct: the popcount guard then runs on the handful of
    # distinct encodings instead of re-inlining the full encode expression
    # into a pre-shuffle Filter over every record (project-collapse would
    # otherwise evaluate the encode twice per row)
    ua = left.select(F.col(clk_col).alias("_clk_a")).distinct().where(F.bit_count("_clk_a") > 0)
    ub = right.select(F.col(clk_col).alias("_clk_b")).distinct().where(F.bit_count("_clk_b") > 0)
    ca = _chunks(ua, "_clk_a")
    cb = _chunks(ub, "_clk_b")
    cand = _spread_cand(
        ca.join(cb, on=["chunk_idx", "chunk_val"]).select("_clk_a", "_clk_b").distinct()
    )
    d = dice_millionths("_clk_a", "_clk_b")
    matches = cand.select("_clk_a", "_clk_b", d.alias("dice_millionths")).where(
        F.col("dice_millionths") >= threshold_millionths
    )
    return (
        matches.join(left.select(F.col(id_col).alias("rec_id_a"), F.col(clk_col).alias("_clk_a")), "_clk_a")
        .join(right.select(F.col(id_col).alias("rec_id_b"), F.col(clk_col).alias("_clk_b")), "_clk_b")
        .select("rec_id_a", "rec_id_b", "dice_millionths")
    )


def clk_oracle_bits_sql(field_salt: str) -> str:
    """DuckDB fragment computing the SAME bit position as the Spark
    encoder for a bigram column ``g``: first two md5 hex digits via
    strpos-nibble arithmetic (proven equal to Spark's conv(..,16,10))."""
    def pos(i: int) -> str:
        h = f"md5('{field_salt}:{i}:' || g)"
        return (
            f"(((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)) % {CLK_BITS})"
        )

    return " | ".join(f"(1::BIGINT << {pos(i)})" for i in range(CLK_K))


def clk_encode_wide(
    df: DataFrame,
    id_col: str,
    fields: list[str],
    n_words: int = 2,
    out_col: str = "clk_words",
) -> DataFrame:
    """Widened CLK: m = n_words × CLK_BITS bits as ``array<bigint>`` of
    60-bit words — the production-width path (m ≈ 500-1000 per Schnell et
    al.; n_words=2 → 120 bits already separates clean/dirty Dice bands far
    better than one word). Bit position = first FOUR md5 hex digits mod m
    (two digits only address 256 < m positions); word = pos // CLK_BITS,
    bit = pos % CLK_BITS. Same codegen'd no-shuffle algebra as
    :func:`clk_encode`, one OR-aggregate per word. Test-verified against
    the plain-Python referee (test_pprl); the 60-bit variant carries the
    DuckDB oracle."""
    m = n_words * CLK_BITS

    # Each bit POSITION is computed exactly once per (bigram, hash) — the
    # positions array is folded into the word vector with an indexed
    # transform, instead of re-evaluating the md5/conv expression once per
    # word in both the CASE predicate and the shift (which would roughly
    # double encode cost per extra word at production widths).
    per_field = []
    for f in fields:
        nm = f"lower(trim(coalesce({f}, '')))"
        gram = f"substring({nm}, i, 2)"
        poses = ", ".join(
            f"CAST(conv(substring(md5(concat('{f}:{i}:', g)), 1, 4), 16, 10) AS INT) % {m}"
            for i in range(CLK_K)
        )
        per_field.append(
            f"CASE WHEN length({nm}) < 2 THEN CAST(array() AS array<int>) "
            f"ELSE flatten(transform(array_distinct(transform(sequence(1, length({nm}) - 1), i -> {gram})), g -> array({poses}))) END"
        )
    positions = f"flatten(array({', '.join(per_field)}))"
    fold = (
        f"aggregate({positions}, array_repeat(CAST(0 AS BIGINT), {n_words}), "
        f"(acc, p) -> transform(acc, (w, wi) -> "
        f"CASE WHEN p div {CLK_BITS} = wi THEN w | shiftleft(CAST(1 AS BIGINT), p % {CLK_BITS}) ELSE w END))"
    )
    return spread_to_parallelism(df).select(F.col(id_col), F.expr(fold).alias(out_col))


def popcount_wide(clk_col: str) -> Column:
    """Total set bits across a word-array CLK (pure column algebra)."""
    return F.expr(f"aggregate(transform({clk_col}, w -> bit_count(w)), 0, (acc, v) -> acc + v)")


def dice_millionths_wide(clk_a_col: str, clk_b_col: str) -> Column:
    """Integer Dice over word-array CLKs: per-word popcounts summed via
    zip_with/aggregate, integer `div` — still pure column algebra, NULL
    when both filters are empty (callers guard like the 60-bit path)."""

    def popcount(col: str) -> str:
        return f"aggregate(transform({col}, w -> bit_count(w)), 0, (acc, v) -> acc + v)"

    inter = (
        f"aggregate(zip_with({clk_a_col}, {clk_b_col}, (x, y) -> bit_count(x & y)),"
        " 0, (acc, v) -> acc + v)"
    )
    return F.expr(
        f"CAST((2000000 * CAST({inter} AS BIGINT))"
        f" div ({popcount(clk_a_col)} + {popcount(clk_b_col)}) AS BIGINT)"
    )


def _chunks_wide(df: DataFrame, clk_col: str, n_words: int) -> DataFrame:
    """Explode each word-array CLK into its n_words × N_CHUNKS
    (chunk_idx, chunk_value) keys — chunk_idx is GLOBAL (word-major), so
    a key collision means the same 15-bit window of the same word."""
    total = n_words * N_CHUNKS
    out = df.select("*", F.explode(F.sequence(F.lit(0), F.lit(total - 1))).alias("chunk_idx"))
    chunk_val = F.expr(
        f"shiftright(element_at({clk_col}, CAST(chunk_idx div {N_CHUNKS} AS INT) + 1),"
        f" (chunk_idx % {N_CHUNKS}) * {CHUNK_BITS}) & {(1 << CHUNK_BITS) - 1}"
    )
    return out.withColumn("chunk_val", chunk_val)


def clk_dice_pairs_wide(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "rec_id",
    clk_col: str = "clk_words",
    n_words: int = 2,
    threshold_millionths: int = 700_000,
) -> DataFrame:
    """Two-source PPRL matching at PRODUCTION CLK WIDTH (m = n_words × 60
    bits as ``array<bigint>``): the wide-path candidate join that
    completes :func:`clk_encode_wide` / :func:`dice_millionths_wide`.

    Same dataflow as :func:`clk_dice_pairs`, word-generalized:

    - pigeonhole chunk keys are (word_idx, chunk_idx) → n_words × N_CHUNKS
      disjoint 15-bit windows, so every pair with Hamming ≤
      n_words·N_CHUNKS − 1 shares at least one chunk verbatim (for
      n_words=2 that is Hamming ≤ 7); pairs beyond the bound are linked
      only when they happen to cohabit a chunk — stated, not assumed.
    - blocking + scoring run in DISTINCT-CLK space (array equality is a
      plain Spark join key), then matching encodings expand back to record
      pairs — provably identical to the record-space join because both
      cohabitation and Dice depend only on the CLK value.
    - sparse-CLK caveat: an all-zero 15-bit window is itself a chunk value,
      so records with empty windows cohabit on value 0 — the skewed-key
      shape AQE's skew-join splitting absorbs. Production CLKs (k·|grams|
      ≈ m/2 load per Schnell et al.) have no empty windows to speak of;
      the guarantee is kept exact rather than silently dropping zero
      chunks and losing pigeonhole recall.

    Reference analog: the plaintext fuzzy-match channel (reference
    database.py:389-405) at the hash width real PPRL deployments use.

    Returns (rec_id_a, rec_id_b, dice_millionths) with Dice ≥ threshold
    and at least one set bit on each side.
    """
    # one encode pass per side + filter AFTER distinct — same rationale as
    # clk_dice_pairs: the lineage cut stops the distinct subtree and the
    # expansion join from each re-running the encode, and the guard runs on
    # distinct encodings, not on every record with the encode expression
    # re-inlined by project collapse
    left = left.localCheckpoint(eager=False)
    right = right.localCheckpoint(eager=False)
    ua = left.select(F.col(clk_col).alias("_clk_a")).distinct().where(popcount_wide("_clk_a") > 0)
    ub = right.select(F.col(clk_col).alias("_clk_b")).distinct().where(popcount_wide("_clk_b") > 0)
    ca = _chunks_wide(ua, "_clk_a", n_words)
    cb = _chunks_wide(ub, "_clk_b", n_words)
    cand = _spread_cand(
        ca.join(cb, on=["chunk_idx", "chunk_val"]).select("_clk_a", "_clk_b").distinct()
    )
    d = dice_millionths_wide("_clk_a", "_clk_b")
    matches = cand.select("_clk_a", "_clk_b", d.alias("dice_millionths")).where(
        F.col("dice_millionths") >= threshold_millionths
    )
    return (
        matches.join(left.select(F.col(id_col).alias("rec_id_a"), F.col(clk_col).alias("_clk_a")), "_clk_a")
        .join(right.select(F.col(id_col).alias("rec_id_b"), F.col(clk_col).alias("_clk_b")), "_clk_b")
        .select("rec_id_a", "rec_id_b", "dice_millionths")
    )


def clk_oracle_pos_wide_sql(field_salt: str, m: int) -> list[str]:
    """DuckDB fragments (one per hash function) computing the SAME wide-CLK
    bit position as :func:`clk_encode_wide` for a bigram column ``g``:
    first FOUR md5 hex digits via strpos-nibble arithmetic, mod m."""

    def pos(i: int) -> str:
        h = f"md5('{field_salt}:{i}:' || g)"
        nibbles = " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
            for j in range(4)
        )
        return f"(({nibbles}) % {m})"

    return [pos(i) for i in range(CLK_K)]
