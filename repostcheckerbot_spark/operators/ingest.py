"""Incremental mode: new batch vs accumulated corpus (reference ST4/ST5).

The reference is an infinite poll loop: each arriving record is (1) skipped if
its identity key is already stored (/root/reference/database.py:328-334), (2)
age-gated (database.py:312-323), (3) probed exactly then fuzzily against ALL
accumulated state (database.py:288-711), (4) appended (database.py:714-775).
Matches whose original was deleted upstream are dropped and purged
(database.py:649-676).

Spark rendering: one micro-batch job over a corpus of assembled docs, with
EVERY corpus-side read bucket-pruned so per-batch I/O is proportional to the
batch, never the corpus:

  new turns → assemble → age gate
    → LEFT ANTI join pruned corpus on conv_id   (J1  identity skip)
    → exact:  probe the ``corpus_reps`` index   (J2  — sha → group rep,
              bucketed by sha; one star edge per batch doc)
    → fuzzy:  batch bands ⋈ colliding corpus bands only (bucket-pruned scan
              + broadcast semi-join on the batch band keys before capping)
    → score:  texts joined from the CANDIDATE id set's buckets only
    → anti-join tombstones                       (J5)
    → upsert docs/bands/reps/edges state         (ST5 idempotent bucketed
              MERGEs — write I/O ∝ touched buckets)
    → clusters: CC over stored ∪ new edges and stored ∪ batch convs — the
              one corpus-wide step, the same writer as the purge's — swapped
              in concurrently with the upserts

State tables (Warehouse): ``corpus_docs`` (bucketed by conv_id),
``corpus_bands`` (bucketed by band_hash), ``corpus_reps`` (doc_sha → rep,
bucketed by doc_sha), ``edges`` (pair key, bucketed by conv_id_a),
``clusters`` (bucketed by conv_id), ``_metrics``. At cluster scale these are
Iceberg ``bucket(...)``-partitioned tables; here parquet behind the same
interface.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repostcheckerbot_spark.config import PipelineConfig
from repostcheckerbot_spark.operators.assembly import assemble_docs
from repostcheckerbot_spark.operators.blocking import cap_band_pool, with_bands, with_signature
from repostcheckerbot_spark.operators.clustering import connected_components
from repostcheckerbot_spark.operators.retention import apply_ingest_gate, within_retention
from repostcheckerbot_spark.operators.scoring import fuzzy_edges, star_edges
from repostcheckerbot_spark.sinks.state import MetricsSink, Warehouse

DOC_COLS = ["conv_id", "doc_sha", "norm_text", "role_sig", "tool", "first_ts", "n_turns"]


class IncrementalPipeline:
    def __init__(self, warehouse: Warehouse, cfg: PipelineConfig):
        self.wh = warehouse
        self.cfg = cfg

    # -- state accessors ----------------------------------------------------
    def corpus_docs(self) -> DataFrame | None:
        return self.wh.read("corpus_docs") if self.wh.exists("corpus_docs") else None

    def edges(self) -> DataFrame | None:
        return self.wh.read("edges") if self.wh.exists("edges") else None

    # -- bucket ids under the warehouse hash ---------------------------------
    def _bucket_set(self, c: str):
        """Aggregate: the set of ``c``'s bucket ids under this config's
        warehouse hash — ≤ n_buckets small ints, fused into an aggregate a
        caller already runs so the writes skip their own collect jobs."""
        nb = int(self.cfg.warehouse_buckets)
        return F.collect_set(F.pmod(F.xxhash64(c), F.lit(nb)).cast("int"))

    def _touched_if_layout_matches(self, table: str, buckets: list[int]) -> list[int] | None:
        """Pre-computed touched buckets are only valid when the table's
        layout hash matches this config's bucket count."""
        return buckets if self.wh.get_meta(table, "n_buckets") == self.cfg.warehouse_buckets else None

    # -- one micro-batch ------------------------------------------------------
    def process_batch(
        self,
        new_transcripts: DataFrame,
        tombstones: DataFrame | None = None,
        now=None,
    ) -> dict[str, DataFrame]:
        cfg = self.cfg
        if self.wh.exists("corpus_docs"):
            # the exact probe reads reps only from the corpus_reps index, and
            # the clusters recompute takes its stored vertices from clusters;
            # every tick and purge maintains both beside corpus_docs
            for table, fix in (("corpus_reps", "rebuild it"), ("clusters", "run recompute_clusters()")):
                if not self.wh.exists(table):
                    raise ValueError(f"warehouse has corpus_docs but no {table} table; {fix} before ingesting")
        metrics = MetricsSink(self.wh)
        t0 = time.monotonic()

        def _lap() -> float:
            """Wall-clock since batch start — stamped onto every stage metric
            so the lineage shows WHERE a slow micro-batch spent its time."""
            return round(time.monotonic() - t0, 3)

        # Job-launch discipline (this batch's wall time is dominated by the
        # ~1-3 s driver floor PER JOB, not by data volume — BENCH/BASELINE.md):
        # every checkpoint in this method is LAZY and materialized by the next
        # action that already has to run (a bucket-id collect, a metric count),
        # so each fused pair costs ONE job launch, not two.
        assembled = assemble_docs(
            apply_ingest_gate(new_transcripts, cfg.retention_days, now=now)
        ).localCheckpoint(eager=False)

        if self.wh.exists("corpus_docs"):
            # J1: identity skip — already-logged conv_ids never re-enter.
            # Bucket-pruned: only corpus buckets that can contain a batch
            # conv_id are scanned (I/O ∝ batch buckets, not corpus). The
            # bucket-id collect inside read_bucket_pruned materializes the
            # `assembled` checkpoint.
            known, skip_pruning = self.wh.read_bucket_pruned(
                "corpus_docs", assembled.select("conv_id"), "conv_id"
            )
            batch_docs = assembled.join(
                known.select("conv_id"), "conv_id", "left_anti"
            ).localCheckpoint(eager=False)
        else:
            batch_docs, skip_pruning = assembled, None
        # ONE aggregate materializes batch_docs and yields (a) the batch size
        # for both metric rows (identity-skip survivors ≡ batch size), (b)
        # the conv_id bucket ids the corpus_docs merge will touch, (c) the
        # doc_sha bucket ids the corpus_reps probe AND merge will touch —
        # all under the warehouse bucket hash, so the downstream
        # read_bucket_pruned / upsert calls skip their own collect jobs.
        _b = self._bucket_set
        srow = batch_docs.agg(
            F.count(F.lit(1)).alias("n"), _b("conv_id").alias("cb"), _b("doc_sha").alias("sb")
        ).collect()[0]
        n_batch, conv_buckets, sha_buckets = int(srow["n"]), list(srow["cb"]), list(srow["sb"])
        _tb = self._touched_if_layout_matches

        if skip_pruning is not None:
            metrics.record_count("ingest.identity_skip", n_batch, wall_s=_lap(), **skip_pruning)
        metrics.record_count("ingest.batch_docs", n_batch, wall_s=_lap())

        sig = with_signature(batch_docs, cfg).select(*cfg.block_cols, "conv_id", "minhash")
        banded = with_bands(sig, cfg)
        key = [*cfg.block_cols, "band_id", "band_hash"]
        # lazy: materialized by the corpus_bands bucket-id collect below (or,
        # on a fresh warehouse, by the capped-pool heads aggregate)
        batch_bands = banded.select(*key, "conv_id").localCheckpoint(eager=False)

        # ---- exact edges: STAR-CAPPED probe — one edge per batch doc --------
        # The r1 cut joined batch sha against (corpus ∪ batch): one edge per
        # STORED COPY, so a probe matching a viral duplicate group of 10⁶
        # copies emitted 10⁶ edges — the exact quadratic skew the batch path's
        # star (scoring.exact_edges) avoids. Instead, join each batch doc to
        # ONE representative per sha: the corpus group min when the sha is
        # already stored (every stored copy is already connected to it,
        # inductively), else the batch-local min. O(batch) edges; the
        # connected components are identical.
        # The corpus-side rep lookup is the maintained ``corpus_reps`` index
        # (doc_sha → group rep, hash-bucketed by doc_sha): the probe reads
        # only the buckets the batch's shas hash into — I/O ∝ batch, where the
        # r3-pre shape re-aggregated ALL of corpus_docs every micro-batch.
        # The invariant the star argument needs is "every stored copy of a
        # sha is connected to reps[sha]" — maintained below (persist section)
        # and under purges (_purge_keys re-star). A fresh warehouse's reps are
        # the batch-local mins; the reps merge below creates the index.
        probe = batch_docs.select("conv_id", "doc_sha")
        batch_reps = probe.groupBy("doc_sha").agg(F.min("conv_id").alias("brep"))
        if self.wh.exists("corpus_reps"):
            crep_src, rep_pruning = self.wh.read_bucket_pruned(
                "corpus_reps",
                probe.select("doc_sha"),
                "doc_sha",
                touched=_tb("corpus_reps", sha_buckets),
            )
            metrics.record_count("ingest.rep_probe", 0, wall_s=_lap(), **rep_pruning)
            crep = crep_src.select("doc_sha", F.col("rep").alias("crep"))
            # batch docs star onto the stored rep (connected to every stored
            # copy); the index keeps the group min, which a batch copy
            # sorting below the stored rep takes over (least skips nulls)
            reps = batch_reps.join(crep, "doc_sha", "left").select(
                "doc_sha",
                F.coalesce("crep", "brep").alias("rep"),
                F.least("crep", "brep").alias("min_rep"),
            )
        else:
            reps = batch_reps.select("doc_sha", F.col("brep").alias("rep"), F.col("brep").alias("min_rep"))
        # reps feeds the exact star edges AND the corpus_reps merge; the lazy
        # checkpoint cuts the corpus_reps-file lineage so the overlap plan
        # below can rewrite the table while the scoring job still runs
        # (strict order: the new_edges aggregate materializes it).
        reps = reps.localCheckpoint(eager=False)
        # each batch conv_id meets exactly one reps row: no duplicate edges
        exact = star_edges(probe.join(reps, "doc_sha"))

        # ---- fuzzy candidates: batch bands ⋈ colliding corpus bands ---------
        # I/O ∝ BATCH, not corpus: only corpus bands whose full band key
        # collides with a batch band can ever produce a candidate, so the
        # corpus side is (1) bucket-pruned at scan time (corpus_bands is
        # hash-bucketed by band_hash) and (2) semi-joined against the
        # BROADCAST batch band keys BEFORE any capping — the r2 shape ran the
        # whole corpus band set through a ranking window every micro-batch.
        # The surviving pool (colliding buckets only) is capped by the batch
        # path's operator (blocking.cap_band_pool) and checkpointed: it is
        # tiny (≤ cap × colliding buckets), and the metrics counts + candidate
        # join all read the materialized pool instead of rescanning the corpus.
        batch_keys = batch_bands.select(*key).distinct()
        if self.wh.exists("corpus_bands"):
            corpus_pruned, pruning = self.wh.read_bucket_pruned(
                "corpus_bands", batch_bands.select("band_hash"), "band_hash"
            )
            colliding = corpus_pruned.select(*key, "conv_id").join(
                F.broadcast(batch_keys), key, "left_semi"
            )
            pool = colliding.unionByName(batch_bands)
        else:
            pool, pruning = batch_bands, {"buckets_read": 0, "buckets_total": None}
        # lazy: the heads aggregate materializes it
        capped = cap_band_pool(pool, cfg).localCheckpoint(eager=False)
        # ONE aggregate materializes the capped pool and yields (a) the pool
        # metrics (head rows carry the pre-cap bucket size, so summing them
        # under a _rn==1 guard equals the old heads-only aggregate), (b) the
        # conv_id bucket ids of every pooled row — candidate ids are drawn
        # from pool ∪ batch, so (b) ∪ conv_buckets covers the text lookup's
        # keys and the lookup below skips its own bucket-id collect job.
        heads = capped.agg(
            F.sum(F.when(F.col("_rn") == 1, F.col("_sz"))).alias("pool_rows"),
            F.sum(
                ((F.col("_rn") == 1) & (F.col("_sz") > cfg.max_band_bucket)).cast("long")
            ).alias("n_capped"),
            _b("conv_id").alias("pb"),
        ).collect()[0]
        pool_conv_buckets = sorted(set(heads["pb"]) | set(conv_buckets))
        metrics.record_count(
            "ingest.probe_pool_bands", heads["pool_rows"] or 0, wall_s=_lap(), **pruning
        )
        metrics.record_count(
            "ingest.capped_band_buckets", heads["n_capped"] or 0, cap=cfg.max_band_bucket
        )
        cand = (
            batch_bands.withColumnRenamed("conv_id", "conv_id_new")
            .join(capped.drop("_rn", "_sz").withColumnRenamed("conv_id", "conv_id_old"), key)
            .where(F.col("conv_id_old") != F.col("conv_id_new"))
            .select(
                F.least("conv_id_old", "conv_id_new").alias("conv_id_a"),
                F.greatest("conv_id_old", "conv_id_new").alias("conv_id_b"),
            )
            .dropDuplicates(["conv_id_a", "conv_id_b"])
        )
        # text lookup for scoring: only conv_ids that appear in a candidate
        # pair are ever joined, so the corpus side is bucket-pruned on the
        # candidate id set (I/O ∝ candidates, not corpus)
        texts = batch_docs.select("conv_id", "doc_sha", "norm_text")
        if self.wh.exists("corpus_docs"):
            cand_ids = (
                cand.select(F.col("conv_id_a").alias("conv_id"))
                .unionByName(cand.select(F.col("conv_id_b").alias("conv_id")))
                .distinct()
            )
            corpus_texts, text_pruning = self.wh.read_bucket_pruned(
                "corpus_docs",
                cand_ids,
                "conv_id",
                touched=_tb("corpus_docs", pool_conv_buckets),
            )
            metrics.record_count("ingest.text_lookup", 0, wall_s=_lap(), **text_pruning)
            texts = corpus_texts.select("conv_id", "doc_sha", "norm_text").unionByName(texts)
        # texts is the LAST corpus_docs reader in the scoring lineage; the
        # lazy checkpoint frees the table for the concurrent docs merge below
        texts = texts.localCheckpoint(eager=False)

        # ---- persist closures (ST5 idempotent upserts) ----------------------
        # Defined here so the overlap plan below can launch them while the
        # scoring job still runs. Each touches ONE table and reads only
        # materialized checkpoints plus its own table's files.
        def _persist_docs() -> dict:
            # corpus_docs is hash-bucketed by conv_id: the merge rewrites
            # only the buckets this batch touches (I/O ∝ batch, not corpus)
            return self.wh.upsert(
                "corpus_docs",
                batch_docs.select(*DOC_COLS),
                key="conv_id",
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("corpus_docs", conv_buckets),
            )

        def _persist_reps() -> None:
            # corpus_reps index: upsert the batch shas' group mins (a re-run
            # rewrites the identical row — idempotent)
            self.wh.upsert(
                "corpus_reps",
                reps.select("doc_sha", F.col("min_rep").alias("rep")),
                key="doc_sha",
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("corpus_reps", sha_buckets),
            )

        def _persist_bands() -> None:
            # corpus_bands: hash-bucketed by band_hash (append-only — band
            # rows are immutable per conv) so the probe prunes at scan time
            self.wh.append_bucketed(
                "corpus_bands", batch_bands, key="band_hash", n_buckets=cfg.warehouse_buckets
            )

        def _persist_edges() -> dict:
            # edges: bucketed MERGE on the pair key (bucketed by conv_id_a) —
            # write I/O ∝ new edges' buckets.
            return self.wh.upsert(
                "edges",
                new_edges.dropDuplicates(["conv_id_a", "conv_id_b"]),
                key=["conv_id_a", "conv_id_b"],
                n_buckets=cfg.warehouse_buckets,
                touched=_tb("edges", edge_buckets),
            )

        # ---- overlap plan (guide §2.6: back-fill the executor pool) ---------
        # The scoring leg (candidate join → difflib → new-edges aggregate)
        # reads ONLY checkpointed frames once `texts` and `reps` are
        # materialized, so the bands/docs/reps persists run CONCURRENTLY with
        # the CPU-bound difflib job instead of serially after it: batch wall
        # = max(scoring, persists), not their sum. Tombstoned batches keep the
        # strict order (the tombstone frame's lineage is caller-owned and must
        # not race a table rewrite); so does a fresh warehouse's first batch.
        overlap = self.wh.exists("corpus_reps") and tombstones is None
        # one pool for every table write of the batch; the finally below
        # shuts it down on any exit, so a failed scoring job cannot leave
        # table rewrites running after its exception has propagated
        pool_exec = ThreadPoolExecutor(max_workers=6)
        try:
            if overlap:
                f_bands = pool_exec.submit(_persist_bands)
                # two tiny concurrent jobs materialize the checkpoints (their
                # compute is work the scoring job needed anyway)
                f_t = pool_exec.submit(texts.count)
                f_r = pool_exec.submit(reps.count)
                f_t.result()
                f_r.result()
                f_docs = pool_exec.submit(_persist_docs)
                f_reps = pool_exec.submit(_persist_reps)

            # the batch path's scorer: sha-inequality exclusion (J4), then
            # difflib over the conv_id_b-keyed exchange
            new_edges = exact.unionByName(fuzzy_edges(cand, texts, cfg))

            # ---- J5: drop edges touching upstream-deleted conversations ---------
            if tombstones is not None:
                dead = tombstones.select("conv_id")
                new_edges = new_edges.join(
                    dead.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a", "left_anti"
                ).join(dead.withColumnRenamed("conv_id", "conv_id_b"), "conv_id_b", "left_anti")
            # lazy: the metric aggregate materializes the checkpoint — it MUST run
            # before the edges merge rewrites the table this batch appends to (in
            # overlap mode the scoring lineage reads only checkpoints, so the
            # docs/reps/bands rewrites may already be in flight). The same
            # aggregate also yields the edge-table bucket ids the edges merge
            # will touch (fused, like the batch_docs aggregate above).
            new_edges = new_edges.localCheckpoint(eager=False)
            erow = new_edges.agg(
                F.count(F.lit(1)).alias("n"), _b("conv_id_a").alias("eb")
            ).collect()[0]
            edge_buckets = list(erow["eb"])
            metrics.record_count("ingest.new_edges", int(erow["n"]), wall_s=_lap())

            # ---- clusters: full recompute, the pool's fifth concurrent task ----
            # Its inputs are all available BEFORE the four state writes, from
            # pre-merge state:
            #   edges    ≡ old edges table ∪ new_edges checkpoint (exactly what
            #              the post-merge table will contain)
            #   vertices ≡ old clusters conv_ids ∪ batch conv_ids (the clusters
            #              table carries one row per stored conversation — the
            #              invariant every tick and purge maintains)
            # and the clusters table is the ONE table none of the four persists
            # touches, so the recompute runs concurrently with them: batch wall
            # = max(persists, clusters swap), not their sum. The old edge files
            # are swapped by _persist_edges mid-pool, so the union is EAGERLY
            # checkpointed first — every CC job then reads the checkpoint,
            # never the live files.
            cc_edges = new_edges.select("conv_id_a", "conv_id_b")
            if self.wh.exists("edges"):
                cc_edges = self.wh.read("edges").select("conv_id_a", "conv_id_b").unionByName(cc_edges)
            cc_edges = cc_edges.localCheckpoint(eager=True)
            cc_vertices = batch_docs.select("conv_id")
            if self.wh.exists("clusters"):
                cc_vertices = self.wh.read("clusters").select("conv_id").unionByName(cc_vertices)

            if not overlap:  # strict order: every write after scoring
                f_docs = pool_exec.submit(_persist_docs)
                f_reps = pool_exec.submit(_persist_reps)
                f_bands = pool_exec.submit(_persist_bands)
            # in overlap mode docs/reps/bands have been racing the scoring
            # job since before difflib ran; edges + the clusters swap remain
            f_edges = pool_exec.submit(_persist_edges)
            f_clusters = pool_exec.submit(self._replace_clusters, cc_edges, cc_vertices)
            stats = f_docs.result()
            f_reps.result()
            f_bands.result()
            edge_stats = f_edges.result()
            n_clusters = f_clusters.result()
        finally:
            pool_exec.shutdown(wait=True, cancel_futures=True)
        metrics.record_count(
            "ingest.upsert_corpus_docs",
            stats["rows_written"] or 0,
            wall_s=_lap(),
            buckets_touched=stats["buckets_touched"],
            buckets_total=stats["buckets_total"],
        )
        metrics.record_count(
            "ingest.upsert_edges",
            edge_stats["rows_written"] or 0,
            wall_s=_lap(),
            buckets_touched=edge_stats["buckets_touched"],
            buckets_total=edge_stats["buckets_total"],
        )
        metrics.record_count("ingest.clusters_swap", n_clusters, wall_s=_lap())
        metrics.record_count("ingest.batch", 0, wall_s=time.monotonic() - t0)
        metrics.flush()
        return {
            "batch_docs": batch_docs,
            "new_edges": new_edges,
            "edges": self.wh.read("edges"),
            "clusters": self.wh.read("clusters"),
        }

    # -- janitors (reference §3.4) -------------------------------------------
    def _purge_keys(self, dead: DataFrame) -> int:
        """Remove the given conv_ids from every state table. ``dead`` stays a
        DataFrame end-to-end (anti-join deletes in Warehouse.delete_keys) —
        never collected; a sweep expiring millions of rows costs the driver
        nothing. Clusters are recomputed from the surviving edge set so no
        stale memberships (or cluster ids naming purged convs) remain.

        Exact-star healing: exact edges are STARS to the per-sha group min
        (process_batch), so deleting the rep would disconnect the surviving
        copies. Every sha group that loses a member is re-starred: edges from
        each survivor to the group's new min, and its ``corpus_reps`` row
        re-pointed at it. When the rep survives, the min is unchanged, but a
        survivor starred onto an earlier rep (a later copy took the group
        min over) gains its edge to the min; a pair already stored is
        rewritten once, not duplicated.
        This keeps the reference's probe-all connectivity
        (database.py:328-358) under TTL/tombstone churn.

        One plan, at the job floor: the inputs of every rewrite are
        materialized first; then the five tables are rewritten concurrently,
        each by ONE staged write (delete and re-insert folded together), none
        reading a table another task swaps. Only ids stored in
        ``corpus_docs`` can appear in the other tables, so a purge matching
        no stored doc writes nothing."""
        wh, cfg = self.wh, self.cfg
        if not wh.exists("corpus_docs"):
            return 0
        _b, _tb = self._bucket_set, self._touched_if_layout_matches
        # materialize: the keys may derive from tables the rewrites swap (no
        # distinct: every use is a semi/anti join or a bucket-id set)
        dead = dead.select("conv_id").localCheckpoint(eager=False)
        conv_buckets = list(dead.agg(_b("conv_id")).collect()[0][0])
        # The dead docs' band rows, one per (doc, band). corpus_bands is
        # bucketed by band_hash — unprunable by conv_id — but the doomed
        # rows' band keys are DETERMINISTIC in (stored norm_text, blocking
        # config), so one narrow Arrow pass over the dead docs recomputes them
        # and the bands delete rewrites only the buckets holding a doomed row.
        # The rows carry doc_sha too, so finding the affected sha groups
        # scans no corpus. Invariant: the blocking config equals the
        # ingest-time config (changing it mid-life requires rebuilding
        # corpus_bands, whose stored rows would be stale for probes anyway).
        dd, _ = wh.read_bucket_pruned(
            "corpus_docs", dead, "conv_id", touched=_tb("corpus_docs", conv_buckets)
        )
        sig = with_signature(dd.join(dead, "conv_id", "left_semi"), cfg)
        dead_rows = (
            with_bands(sig.select("conv_id", "doc_sha", "minhash"), cfg)
            .select("doc_sha", "band_hash")
            .localCheckpoint(eager=False)
        )
        drow = dead_rows.agg(
            F.count(F.lit(1)).alias("n"), _b("doc_sha").alias("sb"), _b("band_hash").alias("bb")
        ).collect()[0]
        if not drow["n"]:
            return 0
        dead_shas = dead_rows.select("doc_sha").distinct()
        # surviving members of the affected sha groups, each with the group's
        # new rep (its min conv_id): they give the re-star edges and the new
        # corpus_reps rows
        members = (
            wh.read("corpus_docs")
            .select("conv_id", "doc_sha")
            .join(dead_shas, "doc_sha", "left_semi")
            .join(dead, "conv_id", "left_anti")
            .withColumn("rep", F.min("conv_id").over(Window.partitionBy("doc_sha")))
            .localCheckpoint(eager=True)
        )
        restar = star_edges(members)
        pair = ["conv_id_a", "conv_id_b"]
        edges = None
        if wh.exists("edges"):
            # the post-purge edge set, from the pre-delete table: feeds both
            # the edges rewrite and the clusters recompute
            old = wh.read("edges")
            edges = (
                old.join(dead.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a", "left_anti")
                .join(dead.withColumnRenamed("conv_id", "conv_id_b"), "conv_id_b", "left_anti")
                .join(restar.select(*pair), pair, "left_anti")
                .unionByName(restar)
                .select(*old.columns)
                .localCheckpoint(eager=True)
            )

        with ThreadPoolExecutor(max_workers=5) as pool:
            f_docs = pool.submit(
                wh.delete_keys, "corpus_docs", dead, "conv_id", touched=_tb("corpus_docs", conv_buckets)
            )
            futures = [f_docs]
            if wh.exists("corpus_bands"):
                futures.append(pool.submit(
                    wh.delete_keys, "corpus_bands", dead, "conv_id",
                    prune_hint=dead_rows.select("band_hash"), touched=_tb("corpus_bands", list(drow["bb"])),
                ))
            if wh.exists("corpus_reps"):
                # the affected shas' rows out, their surviving groups' new reps in
                futures.append(pool.submit(
                    wh.delete_keys, "corpus_reps", dead_shas, "doc_sha",
                    touched=_tb("corpus_reps", list(drow["sb"])),
                    insert=members.where(F.col("conv_id") == F.col("rep")).select("doc_sha", "rep"),
                ))
            if edges is not None:
                futures.append(pool.submit(wh.upsert_replace, "edges", edges))
            if wh.exists("clusters"):
                # the clusters table carries one row per stored conv, and no
                # other task touches it: its surviving rows are the vertices
                vertices = wh.read("clusters").select("conv_id").join(dead, "conv_id", "left_anti")
                cc_edges = edges if edges is not None else restar.limit(0)
                futures.append(pool.submit(self._replace_clusters, cc_edges, vertices))
            for f in futures:
                f.result()
        return f_docs.result()

    def _replace_clusters(self, edges: DataFrame, vertices: DataFrame) -> int:
        """The one clusters writer: CC over ``edges`` ∪ ``vertices`` → swap
        ``clusters``. The first write creates the table's bucketed layout and
        stored schema. Returns the rows written, from the parquet footers."""
        clusters = connected_components(
            edges, vertices=vertices, max_iterations=self.cfg.cc_max_iterations
        )
        if self.wh.exists("clusters"):
            return self.wh.upsert_replace("clusters", clusters)
        return self.wh.upsert(
            "clusters", clusters, key="conv_id", n_buckets=self.cfg.warehouse_buckets
        )["rows_written"]

    def recompute_clusters(self) -> DataFrame:
        """CC over the stored edges ∪ stored docs → overwrite ``clusters``, or
        create it on a warehouse that lacks it. Edge sets are tiny relative to
        the corpus (matched pairs only), so this is cheap relative to a
        batch."""
        edges = self.edges()
        if edges is None:
            edges = self.wh.spark.createDataFrame([], "conv_id_a string, conv_id_b string, score double, method string")
        self._replace_clusters(edges, self.wh.read("corpus_docs").select("conv_id"))
        return self.wh.read("clusters")

    def retention_sweep(self, now=None) -> int:
        """Daily TTL sweep (database.py:255-285): purge docs past retention,
        plus their bands, edges, and cluster rows."""
        if self.cfg.retention_days is None or not self.wh.exists("corpus_docs"):
            return 0
        now_col = now if now is not None else F.current_timestamp()
        docs = self.wh.read("corpus_docs")
        expired = docs.where(~within_retention(F.col("first_ts"), self.cfg.retention_days, now_col))
        return self._purge_keys(expired.select("conv_id"))

    def purge_deleted(self, tombstones: DataFrame) -> int:
        """Dead-link purge (database.py:88-94,653-676): remove tombstoned
        conversations from all state."""
        return self._purge_keys(tombstones.select("conv_id"))
