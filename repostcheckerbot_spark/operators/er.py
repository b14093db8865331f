"""Entity-resolution scoring and consolidation beyond the reference's
single-text-field model: weighted multi-field record matching, canonical
record survivorship, order-insensitive token scoring, and TF-IDF cosine
blocking/scoring.

The reference resolves entities on ONE text field (content similarity,
/root/reference/database.py:389-405). Real entity resolution is multi-field
(names, categories, amounts); the public-standard machinery is:

- ``fs_score_pairs``     — Fellegi–Sunter record linkage (Fellegi & Sunter,
                           JASA 1969 — public model): per-field agreement
                           log₂(m/u) weights summed into a match score.
- ``golden_records``     — survivorship: collapse each cluster to one
                           canonical record under per-field rules
                           (most-frequent / longest / min / max), with
                           deterministic tie-breaks.
- ``token_sort_ratio``   — order-insensitive Levenshtein ratio (the
                           fuzzywuzzy ``token_sort_ratio`` construction —
                           public convention): sort tokens, then ratio.
- ``tfidf_cosine_pairs`` — TF-IDF-weighted cosine over word n-grams with a
                           document-frequency cap — the classic sparse-vector
                           ER blocking+scoring channel (canopy-style).

Scale notes (100 TB):

- fs_score_pairs joins ONLY within blocks (equi-join on the caller's block
  key) — the caller bounds block sizes exactly like the LSH band cap
  (blocking.py); compose with LSH bands for free-text fields.
- golden_records is one groupBy(cluster) plus one count-window per
  mode-field (each shuffles on (cluster, value) — near-uniform keys).
- tfidf_cosine_pairs inherits the hot-token DF cap from the n-gram Jaccard
  channel (dedup_docs.py): tokens with df > max(df_frac·N, floor) never
  enter the pair join, so no single token contributes a quadratic bucket;
  the exclusions are enumerable, mirroring ``hot_shingles``.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism

#: tokens rarer than this absolute floor always survive the DF cap.
TFIDF_DF_FLOOR = 5


# ------------------------------------------------------------ Fellegi–Sunter
def fs_weights(mu: dict[str, tuple[float, float]]) -> dict[str, tuple[float, float]]:
    """Per-field (agreement, disagreement) log₂ weights from (m, u)
    probabilities: (log₂(m/u), log₂((1−m)/(1−u))). Computed once in Python
    so Spark and the DuckDB oracle embed the IDENTICAL double literals."""
    return {
        f: (math.log2(m / u), math.log2((1.0 - m) / (1.0 - u)))
        for f, (m, u) in mu.items()
    }


def fs_score_pairs(
    records: DataFrame,
    block_cols: list[str],
    agreements: dict[str, "F.Column"],
    mu: dict[str, tuple[float, float]],
    id_col: str = "rec_id",
    threshold_bits: float | None = None,
    equi_agreements: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Fellegi–Sunter linkage over all record pairs within each block.

    ``records`` is self-joined on ``block_cols`` (id_a < id_b); every other
    column appears twice, suffixed ``_a``/``_b``. ``agreements`` maps field
    name → boolean Column over those suffixed columns; ``mu`` maps the same
    names → (m, u) conditional agreement probabilities. The match score is

        Σ_f  agree_f ? log₂(m_f/u_f) : log₂((1−m_f)/(1−u_f))

    returned as ``fs_score_micros`` (floor ×1e6; engine-portable), summed in
    sorted-field-name order (frozen, oracle-mirrored). With
    ``threshold_bits``, FILTERS to pairs with score > threshold (the linkage
    output — no extra column is added; every surviving row IS a match);
    without it, returns all scored pairs. A NULL agreement predicate (a
    missing field on either side) scores as DISagreement — the ``otherwise``
    branch — and the emitted ``agree_<f>`` flag stays NULL so callers can
    distinguish "disagreed" from "unknown".

    The block key bounds the pair space — the caller owns block sizing
    (compose with LSH bands for text fields; see module docstring).

    **Threshold-implied blocking** (``equi_agreements``): for a field whose
    agreement predicate is equivalent to equality of a per-RECORD expression
    (e.g. ``{"name": F.lower(F.col("name"))}``), AND whose agreement is
    PROVABLY NECESSARY to clear ``threshold_bits`` — i.e. the best achievable
    score with that field disagreeing, Σ_{g≠f} max(w_g) + w_f^dis, cannot
    exceed the threshold — the expression is promoted into the JOIN KEY.
    The output is bit-identical (every surviving pair agrees on the field
    either way — the weight algebra is checked here, per field, and fields
    that are not necessary are left out of the key), but the pair space
    collapses from O(block²) to the equality-group pairs: the classic
    Fellegi–Sunter observation that a high-m/low-u field at a high threshold
    IS a blocking key. At 100 TB this is the difference between an 18M-pair
    block join and a fine-grained equi-join.
    """
    weights = fs_weights(mu)
    key_exprs = _fs_promoted_keys(weights, agreements, threshold_bits, equi_agreements)
    others = [c for c in records.columns if c not in block_cols]
    join_cols = [*block_cols, *key_exprs]
    src = records
    for k, expr in key_exprs.items():
        src = src.withColumn(k, expr)
    a = src.select(*join_cols, *[F.col(c).alias(f"{c}_a") for c in others])
    b = src.select(*join_cols, *[F.col(c).alias(f"{c}_b") for c in others])
    pairs = a.join(b, join_cols).where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    return _fs_emit(pairs, block_cols, id_col, agreements, weights, threshold_bits)


def _fs_promoted_keys(
    weights: dict[str, tuple[float, float]],
    agreements: dict[str, "F.Column"],
    threshold_bits: float | None,
    equi_agreements: dict[str, "F.Column"] | None,
) -> dict[str, "F.Column"]:
    """Threshold-implied blocking (see fs_score_pairs): the join-key columns
    (name → per-record expression) for every equi-expressible field whose
    agreement is provably necessary to clear ``threshold_bits``."""
    key_exprs: dict[str, "F.Column"] = {}
    if threshold_bits is not None and equi_agreements:
        thr_micros = int(threshold_bits * 1_000_000)
        for f, expr in equi_agreements.items():
            ub_without = weights[f][1] + sum(
                max(weights[g]) for g in agreements if g != f
            )
            # floor-micros comparison mirrors the output filter exactly: if
            # even the best completion floors to ≤ threshold, no pair lacking
            # this agreement can survive — promotion is lossless.
            if math.floor(ub_without * 1_000_000) <= thr_micros:
                key_exprs[f"_ek_{f}"] = expr
    return key_exprs


def _fs_emit(
    pairs: DataFrame,
    block_cols: list[str],
    id_col: str,
    agreements: dict[str, "F.Column"],
    weights: dict[str, tuple[float, float]],
    threshold_bits: float | None,
) -> DataFrame:
    """Shared FS scoring tail: agree flags + the micros-floored score summed
    in sorted-field-name order (frozen, oracle-mirrored), then the strict
    threshold filter."""
    score = F.lit(0.0)
    flags = []
    for f in sorted(agreements):
        wa, wd = weights[f]
        agree = agreements[f]
        flags.append(agree.alias(f"agree_{f}"))
        score = score + F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
    out = pairs.select(
        *block_cols,
        f"{id_col}_a",
        f"{id_col}_b",
        *flags,
        F.floor(score * 1_000_000).cast("long").alias("fs_score_micros"),
    )
    if threshold_bits is not None:
        out = out.where(F.col("fs_score_micros") > int(threshold_bits * 1_000_000))
    return out


def fs_link_two_sources(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    agreements: dict[str, "F.Column"],
    mu: dict[str, tuple[float, float]],
    id_col: str = "rec_id",
    threshold_bits: float | None = None,
    equi_agreements: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Clean-clean Fellegi–Sunter linkage BETWEEN two sources (record
    linkage proper, vs the dedup self-join of ``fs_score_pairs``): every
    within-block (left × right) pair is scored once; no id-ordering dedup is
    applied because the sources are distinct tables — a pair (a, b) exists
    only as left-record-a × right-record-b.

    Same contracts as ``fs_score_pairs``: ``agreements`` over ``_a``/``_b``
    suffixed columns (left → ``_a``, right → ``_b``), frozen sorted-field
    summation into ``fs_score_micros``, strict ``>`` threshold filter, NULL
    agreement scores as disagreement with a NULL flag, and the
    threshold-implied blocking promotion (``equi_agreements`` — evaluated
    per-record on each source before suffixing, weight algebra checked per
    field) collapsing the within-block cross join to an equi-join when a
    field is provably necessary. Both sources must share the ``block_cols``
    and ``id_col`` names; other columns may differ — each side's non-block
    columns appear suffixed on its own side only.

    Scale: the pair space is Σ_blocks |A_b|·|B_b| — bounded by the caller's
    blocking exactly as in the self-join case, and the promoted key reduces
    it to equality groups. If one source is dimension-sized, Spark/AQE
    broadcasts it; nothing here forces a shuffle beyond the block-key
    exchange. Reference parity: the reference links NEW submissions against
    the STORED corpus one at a time (/root/reference/main.py:61-102) — this
    is that probe generalized to a set-at-a-time two-source linkage.
    """
    weights = fs_weights(mu)
    key_exprs = _fs_promoted_keys(weights, agreements, threshold_bits, equi_agreements)
    join_cols = [*block_cols, *key_exprs]

    def _side(df: DataFrame, suffix: str) -> DataFrame:
        src = df
        for k, expr in key_exprs.items():
            src = src.withColumn(k, expr)
        others = [c for c in df.columns if c not in block_cols]
        return src.select(*join_cols, *[F.col(c).alias(f"{c}{suffix}") for c in others])

    pairs = _side(left, "_a").join(_side(right, "_b"), join_cols)
    return _fs_emit(pairs, block_cols, id_col, agreements, weights, threshold_bits)


# -------------------------------------------------------------- survivorship
def golden_records(
    df: DataFrame,
    cluster_col: str,
    rules: dict[str, str],
    ) -> DataFrame:
    """Survivorship: one canonical row per cluster under per-field rules.

    Rules (all ties broken deterministically):
      - ``"mode"``    — most frequent value; tie → lexicographically smallest
      - ``"longest"`` — longest value; tie → lexicographically smallest
      - ``"min"`` / ``"max"`` — plain extremes

    Null field values are ignored by min/max (Spark agg semantics) and sort
    last for mode/longest (they never beat a present value unless the whole
    cluster is null). One groupBy(cluster) total; each mode-field adds one
    count window on (cluster, value) — near-uniform keys, safe at scale.
    """
    aggs = []
    work = df
    for col, rule in sorted(rules.items()):
        if rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "max":
            aggs.append(F.max(col).alias(col))
        elif rule == "longest":
            aggs.append(
                F.min_by(col, F.struct((-F.coalesce(F.length(col), F.lit(-1))).alias("nl"), F.col(col))).alias(col)
            )
        elif rule == "mode":
            cnt = f"_cnt_{col}"
            work = work.withColumn(
                cnt,
                F.count(col).over(Window.partitionBy(cluster_col, col)),
            )
            aggs.append(
                F.min_by(col, F.struct((-F.col(cnt)).alias("nc"), F.col(col))).alias(col)
            )
        else:
            raise ValueError(f"unknown survivorship rule {rule!r} for {col!r}")
    return work.groupBy(cluster_col).agg(*aggs)


# --------------------------------------------------------- token-sort scoring
def token_sort_key(col) -> "F.Column":
    """Canonical token order: lowercase, whitespace-tokenize, sort, re-join.
    Binary (codepoint) sort order — identical in Spark and DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(" ", F.array_sort(F.split(F.lower(F.trim(c)), r"\s+")))


def token_sort_ratio(a, b) -> "F.Column":
    """fuzzywuzzy-style token_sort_ratio on the Levenshtein-ratio scale:
    1 − lev/max(len) over token-sorted strings — order-insensitive, so
    permuted near-duplicates score ~1.0 where plain edit distance fails.
    Fully JVM-native (codegen); no Python."""
    from repostcheckerbot_spark.operators.scoring import levenshtein_ratio

    return levenshtein_ratio(token_sort_key(a), token_sort_key(b))


# ------------------------------------------------------------- TF-IDF cosine
def tfidf_cosine_pairs(
    docs: DataFrame,
    n: int = 2,
    min_cosine: float = 0.6,
    max_df_frac: float = 0.1,
    text_col: str = "text",
) -> DataFrame:
    """TF-IDF cosine similarity pairs over word ``n``-grams, joined only
    through RARE grams (df ≤ max(df_frac·N, TFIDF_DF_FLOOR) — hot grams are
    excluded from the pair join AND from the vectors, so the statistic is
    rare-gram cosine, stated identically by the oracle).

    Returns (doc_id_a, doc_id_b, cosine_micros) with cosine ≥ ``min_cosine``.

    idf = ln(N/df); weight = tf·idf; cosine = dot/(‖a‖·‖b‖), floored to
    millionths. Shape: per-doc gram tf (one groupBy), df (one groupBy),
    pair join on gram (bounded per-gram by the DF cap), pair-sum groupBy.

    Oracle-portability caveat: ``cosine_micros`` floors a floating-point
    SUM whose accumulation order is partitioning- and engine-dependent. A
    dot product landing within ~1 ULP of a millionths boundary could flip
    the last digit between Spark and DuckDB despite correct code. The
    Jaccard/FS channels avoid this by summing scaled integers; here the
    tf·idf weights are irrational (ln), so the residual boundary risk is
    accepted and stated rather than hidden.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # spread the scan ahead of the ×|grams| explode: a few-MB parquet file
    # arrives as 1-2 splits, pinning the tokenize+explode+tf map side (the
    # CPU-heavy stage: ~470 gram rows per doc) to 1-2 cores — measured a
    # 2-task 6.3 s stage at sf1.0 (functions/partitioning.py)
    base = spread_to_parallelism(docs.select("doc_id", text_col))
    grams = (
        base.select("doc_id", words.alias("_w"))
        .where(F.size("_w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - n),
                    lambda i: F.slice(F.col("_w"), i + 1, n),
                )
            ).alias("_t"),
        )
        .select("doc_id", F.concat_ws(" ", F.col("_t")).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        # three consumers follow (df aggregate, then the probe side of the
        # rare join) — materialize the tokenize+explode+tf subtree ONCE
        # instead of recomputing the whole corpus scan per branch.
        # repartition BEFORE the cut: AQE coalesces the byte-small agg
        # output to ~2 partitions, which would serialize every downstream
        # stage reading the checkpoint (the gram self-join amplifies rows,
        # so bytes-based coalescing undersizes it — guide §2.5).
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("df"))
    rare = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") <= F.greatest(F.col("n_docs") * max_df_frac, F.lit(float(TFIDF_DF_FLOOR))))
    )
    w = (
        grams.join(F.broadcast(rare), "gram")
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
        .select("doc_id", "gram", "w")
        # consumed by norms + BOTH sides of the pair self-join; spread for
        # the same row-amplification reason as the tf checkpoint above
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    wa = w.select(F.col("doc_id").alias("doc_id_a"), "gram", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("doc_id_b"), "gram", F.col("w").alias("wb"))
    dots = (
        wa.join(wb, "gram")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn("cosine_micros", F.floor(F.col("dot") / (F.col("na") * F.col("nb")) * 1_000_000).cast("long"))
        .where(F.col("cosine_micros") >= int(min_cosine * 1_000_000))
        .select("doc_id_a", "doc_id_b", "cosine_micros")
    )


# ------------------------------------------------------------- phonetic key
#: Soundex letter→code map with H and W at the END of the matching string so
#: translate() DELETES them (chars beyond the replacement length are removed
#: in both Spark and DuckDB) — deleting H/W implements the classic rule that
#: same-code consonants separated by h/w collapse to one code.
_SOUNDEX_FROM = "ABCDEFGIJKLMNOPQRSTUVXYZHW"
_SOUNDEX_TO = "012301202245501262301202"


def phonetic_key(col) -> "F.Column":
    """American Soundex key (Russell/Odell — public algorithm; the classic
    phonetic blocking key for name fields): first letter + the first three
    consonant class codes, vowels breaking runs, h/w transparent.

    FROZEN positional convention (oracle-shared): the first letter's own
    code is dropped POSITIONALLY after run-collapsing. For words starting
    with h/w followed by a consonant this deviates from archival Soundex
    (which keeps the consonant); archival implementations themselves
    disagree on this edge, so we freeze one rule and state it. Verified
    against the canonical examples (ROBERT→R163, TYMCZAK→T522,
    PFISTER→P236, HONEYWELL→H540, AUBREY→A160).

    Pure column algebra (upper/translate/regexp/substring — whole-stage
    codegen, no Python; the identical expression chain is stated by the
    DuckDB oracle). NULL/empty input → NULL key.

    For blocking, pass the key column into ``fs_score_pairs``'s
    ``block_cols`` — phonetic blocks compose with FS scoring directly.
    """
    c = F.col(col) if isinstance(col, str) else col
    u = F.upper(F.regexp_replace(c, "[^A-Za-z]", ""))
    first = F.substring(u, 1, 1)
    d = F.translate(u, _SOUNDEX_FROM, _SOUNDEX_TO)
    for code in "123456":
        d = F.regexp_replace(d, code + "{2,}", code)
    tail = F.regexp_replace(F.substring(d, 2, 1_000_000), "0", "")
    key = F.concat(first, F.rpad(F.substring(tail, 1, 3), 3, "0"))
    return F.when(F.length(u) > 0, key)


# ------------------------------------------- pairwise clustering evaluation
def pairwise_cluster_metrics(
    clusters: DataFrame,
    truth_pairs: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pairwise precision/recall/F1 of a clustering against labeled truth
    pairs — the standard record-linkage evaluation (the acceptance metric the
    north rule states as pairwise F1 ≥ 0.99; this makes it a first-class
    OPERATOR with a value-hash oracle, not only a pytest gate).

    ``clusters``: (id, cluster_id) assignment (singletons allowed).
    ``truth_pairs``: (id_a, id_b) labeled duplicate pairs, id_a < id_b.

    Predicted pairs are enumerated by a self-join within cluster_id —
    quadratic in CLUSTER SIZE, which is the correct price for the pairwise
    statistic itself (a 10⁶-member cluster has ~5·10¹¹ pairs whatever the
    algebra). Evaluation therefore targets labeled SUBSETS at scale; for
    monitoring whole-corpus health use cluster_size_histogram plus sampled
    pairs instead. All counts integer; ratios floored to millionths so both
    engines agree bit-for-bit.
    """
    a = clusters.select(F.col(id_col).alias("id_a"), F.col(cluster_col).alias("_c"))
    b = clusters.select(F.col(id_col).alias("id_b"), F.col(cluster_col).alias("_c"))
    pred = a.join(b, "_c").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    truth = truth_pairs.select("id_a", "id_b")
    hits = pred.join(truth, ["id_a", "id_b"], "left_semi")
    counts = (
        pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
        .crossJoin(truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    )
    # NULL (not error/inf) on empty denominators — mirrored by NULLIF in the
    # oracle SQL so both engines state the degenerate case identically
    def ratio(num, den) -> "F.Column":
        return F.when(den > 0, F.floor(num / den)).cast("long")

    precision = ratio(F.col("n_hit") * 1_000_000, F.col("n_pred"))
    recall = ratio(F.col("n_hit") * 1_000_000, F.col("n_truth"))
    # F1 from the raw counts (not the floored ratios): 2·hit / (pred + truth)
    f1 = ratio(F.col("n_hit") * 2_000_000, F.col("n_pred") + F.col("n_truth"))
    return counts.select(
        "n_truth",
        "n_pred",
        "n_hit",
        precision.alias("precision_millionths"),
        recall.alias("recall_millionths"),
        f1.alias("f1_millionths"),
    )


def bcubed_ari_metrics(
    pred: DataFrame,
    truth: DataFrame,
    id_col: str = "conv_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) plus Adjusted Rand
    Index (Hubert & Arabie 1985) of a predicted clustering against a TRUTH
    CLUSTERING — the complement of ``pairwise_cluster_metrics``: per-RECORD
    rather than per-pair weighting, so one giant wrong cluster is penalized
    in proportion to membership, not pair count.

    Both inputs are (id, cluster_id) assignments; records present in both
    form the evaluation universe. Everything reduces to the contingency
    table: cells (pred_cluster, truth_cluster, n), predicted-cluster sizes,
    truth-cluster sizes — three shuffles on near-uniform keys, never the
    pairs themselves, so unlike the pairwise metric this is LINEAR in
    cluster size and safe to run whole-corpus at 100 TB.

    Engine portability: per-cell B³ contributions are floored to millionths
    (``n²·10⁶ div size``) and summed as BIGINTs; ARI is assembled from the
    doubled combinatorial sums with a single truncating integer division at
    the end (Spark ``div`` and DuckDB ``//`` both truncate toward zero —
    identical on every sign). All-int64-exact while the ARI numerator fits:
    2·10⁶·N²·(2ΣC(n_cell,2)) < 2⁶³, i.e. N²·Σcell_pairs ≲ 2.3·10¹² — ample
    for labeled evaluation subsets (e.g. N = 10⁵ with 10⁵ planted pairs);
    the B³ columns alone are good to N < 9·10¹². Per-cell flooring
    understates each B³ sum by < #cells·10⁻⁶ (deterministically, in both
    engines identically).
    """
    p = pred.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_pc"))
    t = truth.select(F.col(id_col).alias("_id"), F.col(cluster_col).alias("_tc"))
    cells = p.join(t, "_id").groupBy("_pc", "_tc").agg(
        F.count(F.lit(1)).cast("long").alias("n_cell")
    )
    psz = cells.groupBy("_pc").agg(F.sum("n_cell").alias("n_pc"))
    tsz = cells.groupBy("_tc").agg(F.sum("n_cell").alias("n_tc"))
    per = (
        cells.join(psz, "_pc")
        .join(tsz, "_tc")
        .agg(
            F.sum("n_cell").alias("n_records"),
            F.sum(F.expr("(n_cell * n_cell * 1000000) div n_pc")).alias("_sp"),
            F.sum(F.expr("(n_cell * n_cell * 1000000) div n_tc")).alias("_sr"),
            # doubled cell pair count: 2·Σ C(n_cell, 2)
            F.sum(F.col("n_cell") * (F.col("n_cell") - 1)).alias("_c2"),
        )
    )
    r2 = psz.agg(F.sum(F.col("n_pc") * (F.col("n_pc") - 1)).alias("_r2"))
    s2 = tsz.agg(F.sum(F.col("n_tc") * (F.col("n_tc") - 1)).alias("_s2"))
    n = F.col("n_records")
    # ARI = (Sc − SrSs/C) / ((Sr+Ss)/2 − SrSs/C) over the HALVED sums; with
    # every sum doubled (x2 ≡ 2·Sx, cn2 ≡ 2·C) multiplying num and den by 8C
    # clears all fractions into pure int64 terms
    x = (
        per.crossJoin(r2)
        .crossJoin(s2)
        .withColumn("_cn2", n * (n - 1))
        .withColumn(
            "_arinum",
            F.lit(2_000_000) * (F.col("_cn2") * F.col("_c2") - F.col("_r2") * F.col("_s2")),
        )
        .withColumn(
            "_ariden",
            F.col("_cn2") * (F.col("_r2") + F.col("_s2"))
            - F.lit(2) * F.col("_r2") * F.col("_s2"),
        )
        .withColumn("_p", F.when(n > 0, F.expr("_sp div n_records")).cast("long"))
        .withColumn("_r", F.when(n > 0, F.expr("_sr div n_records")).cast("long"))
    )
    return x.select(
        "n_records",
        F.col("_p").alias("bcubed_precision_millionths"),
        F.col("_r").alias("bcubed_recall_millionths"),
        # harmonic mean of the floored millionth ratios (frozen operation
        # order — both engines compute F1 from the same two integers)
        F.when(F.col("_p") + F.col("_r") > 0, F.expr("(2 * _p * _r) div (_p + _r)"))
        .cast("long")
        .alias("bcubed_f1_millionths"),
        F.when(F.col("_ariden") != 0, F.expr("_arinum div _ariden"))
        .cast("long")
        .alias("ari_millionths"),
    )


def threshold_sweep(
    scored: DataFrame,
    thresholds: list[int],
    score_col: str = "fs_score_micros",
    label_col: str = "is_true",
) -> DataFrame:
    """Precision/recall curve over candidate decision thresholds — the
    calibration companion to the Fellegi–Sunter three-way rule: for each
    integer threshold t, predicted matches = pairs with score > t, evaluated
    against a boolean truth label. One row per threshold: (threshold,
    n_pred, n_hit, precision/recall/f1 millionths).

    Scale shape (pairs can be 10⁹+; thresholds are ~10):
      1. each pair folds to a BIN = #thresholds strictly below its score —
         a narrow projection;
      2. one groupBy over ≤ len(thresholds)+1 bins (map-side partial agg
         does almost all the work; the exchange moves ≤ k+1 rows);
      3. bins explode to the thresholds they satisfy (≤ k(k+1)/2 rows) and
         re-aggregate — the cumulative-from-the-top sum without a non-equi
         join or a window over data;
      4. total-truth count crossJoins in as a one-row aggregate.
    Ratios are truncating integer divisions (``div`` / DuckDB ``//``) to
    millionths, engine-identical.
    """
    ts = sorted(thresholds)
    score = F.col(score_col)
    bin_expr = sum(
        (score > F.lit(t)).cast("int") for t in ts
    )  # 0..len(ts); Python sum over Columns folds to nested +
    binned = scored.select(
        bin_expr.alias("_bin"), F.col(label_col).cast("long").alias("_y")
    )
    h = binned.groupBy("_bin").agg(
        F.count(F.lit(1)).cast("long").alias("_n"), F.sum("_y").alias("_t")
    )
    # bin b contributes to threshold indices 1..b (sequence(1, 0) would
    # DESCEND in Spark — guard bin-0 rows to an empty array instead)
    contrib = h.select(
        F.explode(
            F.when(F.col("_bin") >= 1, F.sequence(F.lit(1), F.col("_bin"))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("_ti"),
        "_n",
        "_t",
    ).groupBy("_ti").agg(
        F.sum("_n").alias("n_pred"), F.sum("_t").alias("n_hit")
    )
    spark = scored.sparkSession
    thr = spark.createDataFrame(
        [(i + 1, int(t)) for i, t in enumerate(ts)], "_ti int, threshold long"
    )
    total = binned.agg(F.sum("_y").alias("_n_truth"))
    out = (
        thr.join(contrib, "_ti", "left")
        .na.fill({"n_pred": 0, "n_hit": 0})
        .crossJoin(total)
    )
    return out.select(
        "threshold",
        "n_pred",
        "n_hit",
        F.when(F.col("n_pred") > 0, F.expr("(n_hit * 1000000) div n_pred"))
        .cast("long")
        .alias("precision_millionths"),
        F.when(F.col("_n_truth") > 0, F.expr("(n_hit * 1000000) div _n_truth"))
        .cast("long")
        .alias("recall_millionths"),
        F.when(
            F.col("n_pred") + F.col("_n_truth") > 0,
            F.expr("(n_hit * 2000000) div (n_pred + _n_truth)"),
        )
        .cast("long")
        .alias("f1_millionths"),
    )


# --------------------------------------------------------- 1:1 assignment
def one_to_one_matches(
    scored: DataFrame,
    id_a_col: str = "rec_id_a",
    id_b_col: str = "rec_id_b",
    score_col: str = "fs_score_micros",
) -> DataFrame:
    """Mutual-best-match (symmetric top-1) assignment over scored candidate
    pairs — the classic clean-clean linkage post-step: after probabilistic
    scoring, each left record may match AT MOST one right record and vice
    versa. A pair survives iff it is the best-scoring candidate for BOTH of
    its endpoints (ties broken deterministically: higher score first, then
    smaller partner id), which yields a 1:1 partial matching without the
    driver-side Hungarian solve no cluster could afford.

    Mutual-top-1 is the standard scalable heuristic, not a maximum-weight
    matching — a record whose best partner prefers someone else stays
    unmatched rather than cascading to its second choice (greedy cascades
    are inherently sequential; this operator is one pass, stated exactly).

    Shape: two row_number windows, each one hash-shuffle on an id column —
    both near-uniform keys (a record has at most its candidate count of
    rows), safe at 100 TB. Input must already be blocked/scored (the pair
    space is the caller's problem, as everywhere in this module).
    """
    wa = Window.partitionBy(id_a_col).orderBy(
        F.col(score_col).desc(), F.col(id_b_col).asc()
    )
    wb = Window.partitionBy(id_b_col).orderBy(
        F.col(score_col).desc(), F.col(id_a_col).asc()
    )
    return (
        scored.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .where((F.col("_ra") == 1) & (F.col("_rb") == 1))
        .drop("_ra", "_rb")
    )


# ------------------------------------------- term-frequency adjusted weights
def tf_value_weights(
    value_counts: dict[str, int], total: int, m: float
) -> dict[str, float]:
    """Value-specific agreement weights for a term-frequency-adjusted field:
    w(v) = log₂(m · N / n_v) — the Newcombe/Winkler value-specific-u
    refinement (u_v = n_v/N estimates the chance two random records share
    value v): agreeing on a RARE value is strong evidence, agreeing on a
    value half the corpus carries is weak. Pure Python so Spark and the
    DuckDB oracle embed the IDENTICAL double literals (the fs_weights
    discipline)."""
    return {v: math.log2(m * total / n) for v, n in value_counts.items()}


def collect_value_histogram(
    records: DataFrame, field: str, max_distinct: int = 10_000
) -> tuple[dict[str, int], int]:
    """Bounded driver collect of a field's value histogram for TF weighting
    (cardinality-capped, same discipline as the 2^F agreement-pattern
    histogram). Raises if the field exceeds ``max_distinct`` — a
    high-cardinality field (names at 10⁸ distinct) must keep its TF table
    distributed instead: join the (value, n) DataFrame and compute the
    weight in-engine (with the documented float-log boundary risk), never
    collect it."""
    rows = (
        records.where(F.col(field).isNotNull())
        .groupBy(field)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .limit(max_distinct + 1)
        .collect()
    )
    if len(rows) > max_distinct:
        raise ValueError(
            f"{field!r} exceeds max_distinct={max_distinct}; keep its TF table distributed"
        )
    counts = {r[field]: int(r["n"]) for r in rows}
    return counts, sum(counts.values())


def fs_tf_score_pairs(
    records: DataFrame,
    block_cols: list[str],
    agreements: dict[str, "F.Column"],
    mu: dict[str, tuple[float, float]],
    tf_field: str,
    id_col: str = "rec_id",
    max_distinct: int = 10_000,
) -> DataFrame:
    """Fellegi–Sunter scoring with ONE term-frequency-adjusted field: every
    field in ``agreements`` scores with the constant (m,u) log-weights of
    :func:`fs_score_pairs`, while ``tf_field`` (compared by plain equality)
    scores agreement with the value-specific weight log₂(m·N/n_v) from
    :func:`tf_value_weights` and disagreement with the constant
    log₂((1−m)/(1−u)). This is the public Splink/Newcombe TF-adjustment
    construction: frequent values (a dominant market segment, a common
    surname) stop masquerading as match evidence.

    The per-value weight map is collected once on the driver (bounded by
    ``max_distinct``) and embedded as a literal CASE map — engine-exact
    micros, shared with the oracle through the same Python helpers. Join
    shape is identical to fs_score_pairs (equi-join on ``block_cols``).
    """
    counts, total = collect_value_histogram(records, tf_field, max_distinct)
    weights = fs_weights(mu)
    tf_w = tf_value_weights(counts, total, mu[tf_field][0])

    others = [c for c in records.columns if c not in block_cols]
    a = records.select(*block_cols, *[F.col(c).alias(f"{c}_a") for c in others])
    b = records.select(*block_cols, *[F.col(c).alias(f"{c}_b") for c in others])
    pairs = a.join(b, block_cols).where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))

    score = F.lit(0.0)
    flags = []
    for f in sorted(agreements):
        wa, wd = weights[f]
        agree = agreements[f]
        flags.append(agree.alias(f"agree_{f}"))
        score = score + F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
    # the TF field: value-specific agreement weight via a literal map on the
    # _a value (a == b when agreeing, so either side works), constant
    # disagreement weight
    tf_map = F.create_map(
        *[x for v, w in sorted(tf_w.items()) for x in (F.lit(v), F.lit(w))]
    )
    tf_agree = F.col(f"{tf_field}_a") == F.col(f"{tf_field}_b")
    flags.append(tf_agree.alias(f"agree_{tf_field}"))
    score = score + F.when(tf_agree, tf_map[F.col(f"{tf_field}_a")]).otherwise(
        F.lit(weights[tf_field][1])
    )
    return pairs.select(
        *block_cols,
        f"{id_col}_a",
        f"{id_col}_b",
        *flags,
        F.floor(score * 1_000_000).cast("long").alias("fs_score_micros"),
    )


# ----------------------------------------------------- deterministic cascade
def rule_cascade(
    records: DataFrame,
    rules: list[tuple[str, "F.Column"]],
    id_col: str = "rec_id",
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic waterfall matching: an ORDERED list of match rules,
    each a per-record key expression; rule i pairs records sharing a
    non-null key_i (within ``block_cols`` if given), and every pair is
    attributed to the FIRST rule that fires — the classic deterministic
    "match pass" cascade that precedes (or replaces) probabilistic scoring
    in MDM pipelines, with rule provenance kept for audit.

    Returns (id_a, id_b, rule_idx, rule) with id_a < id_b, one row per
    matched pair. Shape: one equi-self-join per rule (each bounded by its
    key-group sizes — the caller owns key selectivity exactly as with
    blocking keys), one union, one groupBy(pair) taking the minimum
    (rule_idx, rule) struct. All joins are key-equality; nothing quadratic
    beyond the per-key groups; all-integer/string algebra (oracle-exact).
    """
    blk = list(block_cols or [])
    outs = []
    for i, (name, keyexpr) in enumerate(rules):
        k = records.withColumn("_k", keyexpr).where(F.col("_k").isNotNull())
        a = k.select(*blk, F.col(id_col).alias("id_a"), "_k")
        b = k.select(*blk, F.col(id_col).alias("id_b"), "_k")
        outs.append(
            a.join(b, [*blk, "_k"])
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.lit(i).alias("rule_idx"),
                F.lit(name).alias("rule"),
            )
        )
    allp = outs[0]
    for o in outs[1:]:
        allp = allp.unionByName(o)
    first = allp.groupBy("id_a", "id_b").agg(
        F.min(F.struct("rule_idx", "rule")).alias("_m")
    )
    return first.select(
        "id_a", "id_b", F.col("_m.rule_idx").alias("rule_idx"), F.col("_m.rule").alias("rule")
    )


def monge_elkan_millionths(a, b) -> "F.Column":
    """Monge–Elkan hybrid token scorer (Monge & Elkan, KDD 1996 — the
    classic token-level wrapper over a character-level scorer): for each
    DISTINCT token of ``a``, take the best Jaro-Winkler match among
    ``b``'s tokens; return the mean. Directional (a→b); symmetrize at the
    call site.

    Engine portability: each token-pair JW is floored to millionths BEFORE
    the max (same IEEE doubles as DuckDB's ``jaro_winkler_similarity`` —
    scoring.py's bit-parity conventions), maxima sum as integers, one
    truncating division by the distinct-token count at the end. Tokens are
    ASCII-whitespace splits of the lowercased text (``re.ASCII`` mirrors
    RE2's ``\\s`` in the oracle's ``string_split_regex``); set semantics
    (duplicates collapse).

    Arrow-batched pandas UDF — the per-pair token×token loop runs in-batch;
    like the other character scorers, cap text length at the call site and
    run on BLOCKED candidates, never all pairs.
    """
    import re

    from repostcheckerbot_spark.operators.scoring import _jaro_winkler

    ws = re.compile(r"\s+", re.ASCII)

    def _toks(t: str) -> list[str]:
        return sorted({w for w in ws.split(t.lower()) if w})

    def _me(x: str | None, y: str | None) -> int | None:
        if x is None or y is None:
            return None
        ta, tb = _toks(x), _toks(y)
        if not ta or not tb:
            return None
        s = sum(
            max(math.floor(_jaro_winkler(t, u) * 1_000_000) for u in tb) for t in ta
        )
        return s // len(ta)

    @F.pandas_udf(T.LongType())
    def me_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series([_me(x, y) for x, y in zip(xs, ys)], dtype="object")

    return me_udf(a, b)


# ------------------------------------------------- Fellegi–Sunter EM fitting
def agreement_pattern_counts(
    scored_pairs: DataFrame, fields: list[str]
) -> dict[tuple[bool, ...], int]:
    """Collapse scored pairs to agreement-PATTERN counts: one groupBy over
    the ``agree_<field>`` columns → at most 2^F rows collected. This is the
    entire driver-side footprint of EM fitting — corpus size never reaches
    the driver, only the pattern histogram.

    NULL agreement flags (a missing field on either side — the normal case
    in dirty ER data) are folded into ``False`` BEFORE grouping, matching
    :func:`fs_score_pairs`'s scoring of NULL as disagreement, so the
    True/False/NULL three-way split cannot produce colliding keys; counts
    are still accumulated additively as a guard."""
    cols = [f"agree_{f}" for f in fields]
    rows = (
        scored_pairs.select(*[F.coalesce(F.col(c), F.lit(False)).alias(c) for c in cols])
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts: dict[tuple[bool, ...], int] = {}
    for r in rows:
        key = tuple(bool(r[c]) for c in cols)
        counts[key] = counts.get(key, 0) + r["n"]
    return counts


def fs_estimate_mu(
    pattern_counts: dict[tuple[bool, ...], int],
    fields: list[str],
    iters: int = 100,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
) -> tuple[dict[str, tuple[float, float]], float]:
    """Unsupervised (m, u) estimation via the two-class EM of Winkler 1988 /
    Jaro 1989 (public method): candidate pairs are a mixture of matches
    (agreeing on field f w.p. m_f) and non-matches (w.p. u_f); EM on the
    agreement-pattern histogram recovers (m_f, u_f) and the match prevalence
    p without any labels.

    Deterministic: fixed init, fixed iteration count (bounded driver work —
    2^F patterns × iters). Returns ({field: (m, u)}, p) ready to feed
    :func:`fs_score_pairs`. Estimates are clamped to (1e-6, 1−1e-6) so the
    log₂ weights stay finite even when EM saturates a field.
    """
    nf = len(fields)
    pats = sorted(pattern_counts)
    n = [float(pattern_counts[g]) for g in pats]
    total = sum(n)
    if not total:
        raise ValueError("empty pattern histogram")
    p = init_p
    m = [init_m] * nf
    u = [init_u] * nf

    def clamp(x: float) -> float:
        return min(max(x, 1e-6), 1.0 - 1e-6)

    for _ in range(iters):
        # E-step: posterior match weight per pattern
        w = []
        for g in pats:
            pm, pu = p, 1.0 - p
            for f in range(nf):
                pm *= m[f] if g[f] else 1.0 - m[f]
                pu *= u[f] if g[f] else 1.0 - u[f]
            w.append(pm / (pm + pu) if pm + pu > 0 else 0.0)
        # M-step
        wm = sum(ni * wi for ni, wi in zip(n, w))
        wu = total - wm
        p = clamp(wm / total)
        for f in range(nf):
            mf = sum(ni * wi for g, ni, wi in zip(pats, n, w) if g[f])
            uf = sum(ni * (1.0 - wi) for g, ni, wi in zip(pats, n, w) if g[f])
            m[f] = clamp(mf / wm if wm > 0 else init_m)
            u[f] = clamp(uf / wu if wu > 0 else init_u)
    return {fields[f]: (m[f], u[f]) for f in range(nf)}, p


def uncertainty_queue(
    scored: DataFrame,
    threshold_micros: int,
    k: int,
    id_cols: tuple[str, str] = ("rec_id_a", "rec_id_b"),
    score_col: str = "fs_score_micros",
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Active-learning labeling queue: the k scored pairs whose match score
    sits CLOSEST to the decision threshold — uncertainty sampling, the
    standard way ER deployments spend a human-labeling budget (each label
    near the boundary moves the fitted (m, u) weights most; pairs far from
    the threshold teach nothing). The reference's analog is its manual
    moderation flow — borderline ratios get eyeballed (reference bot.py
    reply/report path) — here made a first-class bounded operator.

    Deterministic: ordered by (|score − threshold|, id_a, id_b) — ties at
    the budget boundary cannot reshuffle across runs or partitionings.

    Scale shape: when ``block_cols`` is given, a per-block window keeps only
    each block's k most uncertain pairs FIRST (one row_number over the
    block-key exchange the scorer already produced), so the global top-k
    sort sees ≤ k·|blocks| rows instead of every scored pair; the global
    ``orderBy(...).limit(k)`` then compiles to TakeOrderedAndProject (per-
    partition heaps + driver merge of k·P rows, never a full sort). Output:
    (rank, *id_cols, score_col, uncertainty_micros).
    """
    ida, idb = id_cols
    u = scored.withColumn(
        "uncertainty_micros",
        F.abs(F.col(score_col) - F.lit(int(threshold_micros))).cast("long"),
    )
    order = [F.col("uncertainty_micros").asc(), F.col(ida).asc(), F.col(idb).asc()]
    if block_cols:
        w = Window.partitionBy(*block_cols).orderBy(*order)
        u = u.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    top = u.orderBy(*order).limit(k)
    wg = Window.orderBy(*order)
    return top.select(
        F.row_number().over(wg).cast("long").alias("rank"),
        ida,
        idb,
        score_col,
        "uncertainty_micros",
    )


def blocking_scheme_report(
    records: DataFrame,
    schemes: dict[str, "F.Column"],
    truth_pairs: DataFrame,
    id_col: str = "rec_id",
) -> DataFrame:
    """Blocking-ensemble evaluation: one row per candidate blocking scheme
    with the two numbers every blocking decision trades off — COST
    (candidate pairs the scheme would generate) and COMPLETENESS (labeled
    truth pairs whose records share a key). The report is how a deployment
    picks its block_cols BEFORE paying for scoring, and it exposes
    degenerate schemes (a key that collapses to one giant block shows as a
    quadratic pair count with perfect completeness).

    Cost is computed from BLOCK SIZES (Σ n·(n−1)/2 over the key histogram)
    — the pair space is never materialized, so reporting on a scheme is
    groupBy-cheap even when running it would be quadratic-expensive. NULL
    keys block nothing (standard semantics: a record with no key joins no
    block). Output per scheme: (scheme, n_blocks, n_candidate_pairs,
    n_truth_covered, completeness_micros = floor(covered·10⁶ / n_truth)).

    Shape per scheme: one groupBy on the key column + two broadcast-sized
    joins of the truth pairs against the keyed records; schemes union into
    one small report frame. All-integer output (oracle-exact).
    """
    truth = truth_pairs.select(
        F.col(truth_pairs.columns[0]).alias("_ta"),
        F.col(truth_pairs.columns[1]).alias("_tb"),
    ).localCheckpoint(eager=False)
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n")).select("n")
    parts: list[DataFrame] = []
    for name, key_expr in schemes.items():
        keyed = records.select(
            F.col(id_col).alias("_id"), key_expr.cast("string").alias("_key")
        ).where(F.col("_key").isNotNull())
        hist = keyed.groupBy("_key").agg(F.count(F.lit(1)).alias("n"))
        cost = hist.agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_candidate_pairs"),
        )
        ka = keyed.select(F.col("_id").alias("_ta"), F.col("_key").alias("_ka"))
        kb = keyed.select(F.col("_id").alias("_tb"), F.col("_key").alias("_kb"))
        covered = (
            truth.join(ka, "_ta")
            .join(kb, "_tb")
            .where(F.col("_ka") == F.col("_kb"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_truth_covered"))
        )
        parts.append(
            cost.crossJoin(covered)
            .crossJoin(n_truth)
            .select(
                F.lit(name).alias("scheme"),
                F.coalesce("n_blocks", F.lit(0).cast("long")).alias("n_blocks"),
                F.coalesce("n_candidate_pairs", F.lit(0).cast("long")).alias(
                    "n_candidate_pairs"
                ),
                "n_truth_covered",
                F.floor(F.col("n_truth_covered") * 1_000_000 / F.col("n"))
                .cast("long")
                .alias("completeness_micros"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def capture_recapture_estimate(
    pairs_a: DataFrame,
    pairs_b: DataFrame,
    keys: tuple[str, str] = ("doc_id_a", "doc_id_b"),
) -> DataFrame:
    """Chapman capture–recapture estimate of the LATENT duplicate-pair
    population from two independent detection channels.

    Classic mark-recapture statistics (Lincoln–Petersen; Chapman 1951
    small-sample correction), applied to dedup QA: channel A "marks" the
    pairs it catches, channel B "recaptures" some of them, and the overlap
    estimates how many true duplicate pairs BOTH channels are missing —
    the answerable form of "how much duplication is left?" that neither
    channel's own count can give. The reference has no analog (it reviews
    candidates one submission at a time, reference database.py:390-402); this
    is pipeline-level QA that only matters at corpus scale.

    N̂ = (n_a + 1)(n_b + 1) / (m + 1) − 1, floored to BIGINT — defined
    even at m = 0 and less biased than raw Lincoln–Petersen for small m.
    Assumes channel independence (stated, as always, not assumed silently:
    correlated channels bias N̂ low — docstring caveat, standard practice).

    One pair-key shuffle + one global aggregate: the two channels are
    tagged 1/2, unioned, summed per pair (1 = A only, 2 = B only,
    3 = both), then counted in a single pass. No collect, no loop; at
    100 TB this is two map-side-combined aggregations over already-blocked
    candidate sets, far cheaper than either channel itself.

    Returns ONE row: (n_a, n_b, n_overlap, n_est_total) — all BIGINT.
    """
    ka, kb = keys
    a = pairs_a.select(F.col(ka).alias("_pa"), F.col(kb).alias("_pb")).distinct()
    b = pairs_b.select(F.col(ka).alias("_pa"), F.col(kb).alias("_pb")).distinct()
    tagged = a.withColumn("_src", F.lit(1)).unionByName(b.withColumn("_src", F.lit(2)))
    per_pair = tagged.groupBy("_pa", "_pb").agg(F.sum("_src").alias("_s"))
    return per_pair.agg(
        F.count(F.when(F.col("_s").isin(1, 3), 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("_s").isin(2, 3), 1)).cast("long").alias("n_b"),
        F.count(F.when(F.col("_s") == 3, 1)).cast("long").alias("n_overlap"),
    ).select(
        "n_a",
        "n_b",
        "n_overlap",
        # integer `div`, not floor(double /): at 10^12-turn scale the
        # product outgrows double's 2^53 exact-integer range — and the
        # product itself is computed in DECIMAL(38,0) because two channels
        # above ~3e9 pairs each would overflow the BIGINT multiply long
        # before the quotient stops fitting one
        F.expr(
            "((CAST(n_a AS DECIMAL(38,0)) + 1) * (CAST(n_b AS DECIMAL(38,0)) + 1))"
            " div (n_overlap + 1) - 1"
        )
        .cast("long")
        .alias("n_est_total"),
    )
