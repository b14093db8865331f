"""Pipeline configuration.

Mirrors the reference's per-subreddit ``sub_settings`` env-config vector
(/root/reference/config.py:9-19) as an explicit, typed job config:

- ``thresh`` ≙ ``BOT_THRESH`` (config.py:17, default 5). Text accept rule is
  ``10 - ratio*10 < thresh``  ⇔  ``ratio > 1 - thresh/10`` (database.py:396),
  so the default similarity floor is ratio > 0.5.
- ``retention_days`` ≙ ``BOT_{TOP,HOT,NEW}_DAYS`` (config.py:11-13) — the
  late/old-record gate (database.py:312-323) and the daily retention sweep
  (database.py:255-285).
- Blocking/LSH parameters have no reference analog (the reference does a full
  O(N²) scan, database.py:389-405); they are the scale-out design.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- reference-parity knobs -------------------------------------------
    #: similarity threshold, reference BOT_THRESH (config.py:17).
    thresh: int = 5
    #: retention limit in days (None = keep forever), reference BOT_*_DAYS.
    retention_days: int | None = None

    # --- blocking / candidate generation ----------------------------------
    #: character-shingle width over the whitespace-stripped document. 9 chars
    #: spans ≈ two words once whitespace is stripped: verbatim-shared runs
    #: between near-dups keep their shingles, while unrelated docs sharing
    #: vocabulary almost never share an exact 9-gram — high dup-Jaccard, tiny
    #: background Jaccard (measured ~1e-3 vs ~0.35 at the verdict boundary).
    shingle_k: int = 9
    #: LSH geometry. Accept floor ratio>0.5 ⇒ dup pairs share ≥~50% of their
    #: text verbatim ⇒ shingle-Jaccard J ≳ 0.33. r=2, b=64:
    #: P(candidate | J=0.33) = 1-(1-0.33²)^64 ≈ 0.9994 — recall holds for
    #: F1≥0.99 at the verdict boundary; background pairs (J≲0.02) collide on a
    #: band with p≈2.5e-2 total, and the sha fast path catches J=1 groups.
    bands: int = 64
    rows_per_band: int = 2
    #: composite blocking columns; candidate pairs are generated only within
    #: a block (reference analog: one SQLite file per subreddit,
    #: database.py:26-35 — cross-partition pairs are never compared).
    #: (tool, role_sig) per the design: duplicates preserve the turn role
    #: sequence, while the role-sequence signature fans unrelated
    #: conversations out across blocks — measured ~25× candidate reduction at
    #: bench scale. A ts bucket is deliberately NOT a hard block: reposts
    #: arrive later than their originals by definition; time is handled by the
    #: retention gate instead.
    block_cols: tuple[str, ...] = ("tool", "role_sig")
    #: LSH band buckets larger than this are capped (counted in metrics, never
    #: silently dropped): huge buckets are near-identical groups already caught
    #: by the exact sha path, and uncapped they produce O(s²) pairs (skew).
    max_band_bucket: int = 64

    # --- clustering --------------------------------------------------------
    #: hard cap on star-contraction rounds (converges in O(log n); 50 is a
    #: runaway backstop, not a tuning knob). Batch runs and every incremental
    #: tick, purge and rebuild recompute clusters in full under it.
    cc_max_iterations: int = 50

    # --- placement ---------------------------------------------------------
    #: corpus_docs is hash-bucketed by conv_id into this many partitions so
    #: an incremental MERGE rewrites only touched buckets (I/O ∝ batch, not
    #: corpus). At cluster scale this is Iceberg ``bucket(conv_id, N)`` with
    #: N sized so each bucket ≲ a few GB.
    warehouse_buckets: int = 16

    @property
    def num_hashes(self) -> int:
        return self.bands * self.rows_per_band

    @property
    def ratio_threshold(self) -> float:
        """Text accept floor: ratio > 1 - thresh/10 (database.py:396)."""
        return 1.0 - self.thresh / 10.0


DEFAULT_CONFIG = PipelineConfig()
