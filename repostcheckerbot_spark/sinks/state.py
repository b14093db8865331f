"""Table state + metrics/lineage sink.

The reference's "sinks" are an unindexed SQLite table plus append-only txt
logs (/root/reference/app.py:28-29,123-125; database.py:97-98,129-130). Here,
state is a warehouse directory of parquet tables behind one small interface:
the method surface is Iceberg-shaped (append / overwrite / merge-style upsert
/ delete-where), so pointing it at a real Iceberg catalog on the cluster is a
local change (the sandbox has no Iceberg jars — noted, not hidden).

Every rewrite stages its rows once beside the table and swaps them in
(:meth:`Warehouse._staged_swap`); row counts come from parquet footers.

Lineage/metrics: every pipeline stage appends rows to ``_metrics``
(run_id, stage, rows_out, wall_s, extra) — the explicit
per-partition lineage the north rule demands, replacing errs.txt-style logs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p))

    def read(self, table: str) -> DataFrame:
        df = self._read_raw(table)
        # _bucket is internal layout (hash-bucket partition column), not schema
        return df.drop("_bucket") if "_bucket" in df.columns else df

    def _read_raw(self, table: str) -> DataFrame:
        """Parquet read under the schema stored in the table meta (at write
        time), when there is one: schema inference costs a Spark job per
        read, and a delete that empties a partitioned table leaves no files
        to infer from — the stored schema reads it as a 0-row frame."""
        meta = self._read_table_meta(table)
        if "schema" in meta:
            schema = StructType.fromJson(json.loads(meta["schema"]))
            return self.spark.read.schema(schema).parquet(self._path(table))
        return self.spark.read.parquet(self._path(table))

    # -- per-table layout metadata (bucketing) -------------------------------
    def _meta_path(self, table: str) -> str:
        return f"{self.root}/{table}._meta.json"

    def _read_table_meta(self, table: str) -> dict:
        p = self._meta_path(table)
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_table_meta(self, table: str, meta: dict) -> None:
        with open(self._meta_path(table), "w") as f:
            json.dump(meta, f)

    def get_meta(self, table: str, key: str, default=None):
        """Read one key from the table's layout metadata (e.g. its bucket
        count). Returns ``default`` when absent."""
        return self._read_table_meta(table).get(key, default)

    def overwrite(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        meta = self._read_table_meta(table)
        if meta.get("n_buckets"):
            df = df.withColumn("_bucket", self._bucket_col(meta["bucket_key"], int(meta["n_buckets"])))
            df.write.mode("append").partitionBy("_bucket").parquet(self._path(table))
            return
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def append_bucketed(self, table: str, df: DataFrame, key: str, n_buckets: int) -> None:
        """Append rows into a hash-bucketed layout (``_bucket =
        pmod(xxhash64(key), n_buckets)``), creating the table + meta on first
        write. Unlike :meth:`upsert` there is no key dedup — this is the
        Iceberg ``bucket(key)``-partitioned APPEND for tables whose key is not
        unique (e.g. corpus_bands: many rows per band_hash)."""
        df2 = df.withColumn("_bucket", self._bucket_col(key, n_buckets))
        if not self.exists(table):
            df2.write.mode("overwrite").partitionBy("_bucket").parquet(self._path(table))
            self._write_table_meta(
                table, {"n_buckets": n_buckets, "bucket_key": key, "schema": df2.schema.json()}
            )
            return
        df2.write.mode("append").partitionBy("_bucket").parquet(self._path(table))

    def read_bucket_pruned(
        self,
        table: str,
        keys: DataFrame,
        key_col: str,
        touched: list[int] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Read only the buckets that can contain ``keys[key_col]`` values —
        scan-time partition pruning for probe workloads. Returns (frame,
        {"buckets_read", "buckets_total"}); falls back to a full read when the
        table isn't bucketed on ``key_col``. The touched-bucket list is ≤
        n_buckets small ints (bounded driver value, not a key collect).

        ``touched`` lets a caller pass a PRE-COMPUTED bucket-id list (fused
        into an aggregate it already ran — one job instead of two); it must
        cover every key's bucket under the table's own hash
        (pmod(xxhash64(key), n_buckets)) or rows are silently missed."""
        meta = self._read_table_meta(table)
        n = meta.get("n_buckets")
        if not n or meta.get("bucket_key") != key_col:
            return self.read(table), {"buckets_read": None, "buckets_total": n}
        if touched is None:
            kname = keys.columns[0] if key_col not in keys.columns else key_col
            touched = self._touched_buckets(keys, kname, int(n))
        df = self._read_raw(table).where(F.col("_bucket").isin(touched)).drop("_bucket")
        return df, {"buckets_read": len(touched), "buckets_total": int(n)}

    def upsert(
        self,
        table: str,
        df: DataFrame,
        key: str | list[str],
        n_buckets: int | None = None,
        touched: list[int] | None = None,
    ) -> dict:
        """MERGE-style idempotent upsert (reference ST5: re-sweeps tolerated
        because the Url probe short-circuits, database.py:328-358).

        Parquet rendering of ``MERGE INTO t USING df ON t.key = df.key WHEN
        MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``: existing rows not
        in df are kept, df wins on key collision.

        Layouts:
        - **bucketed** (``n_buckets`` at creation, persisted in table meta):
          the table is partitioned by ``_bucket = pmod(xxhash64(key),
          n_buckets)`` and a merge REWRITES ONLY THE BUCKETS THE BATCH
          TOUCHES (staged write + per-bucket swap, :meth:`_staged_swap`) —
          I/O proportional to the batch, not the corpus. This is the parquet
          rendering of an Iceberg ``bucket(key)``-partitioned MERGE; swapping
          in a real catalog keeps the call sites unchanged.
        - **flat** (no buckets): full staging-dir rewrite + rename — only for
          small tables (demo state).

        Returns {"rows_written", "buckets_touched", "buckets_total"} so
        callers can record merge I/O in the metrics lineage.

        ``touched``: pre-computed SUPERSET of the batch rows' bucket ids
        (fused into an aggregate the caller already ran — saves the internal
        bucket-id collect job). Must cover every df row's bucket under
        pmod(xxhash64(keys[0]), n_buckets): a df row staged into an unlisted
        bucket makes the merge RAISE before any bucket is swapped (the table
        is left untouched). Extra listed buckets are read and rewritten with
        identical rows (safe).
        """
        keys = [key] if isinstance(key, str) else list(key)
        meta = self._read_table_meta(table)
        n_buckets = n_buckets or meta.get("n_buckets")
        if n_buckets:
            return self._upsert_bucketed(table, df, keys, int(n_buckets), touched)
        if not self.exists(table):
            self.overwrite(table, df)
            return {"rows_written": None, "buckets_touched": None, "buckets_total": None}
        current = self.read(table)
        merged = current.join(df.select(*keys).distinct(), keys, "left_anti").unionByName(df)
        self.upsert_replace(table, merged)
        return {"rows_written": None, "buckets_touched": None, "buckets_total": None}

    def _bucket_col(self, key: str, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")

    def _upsert_bucketed(
        self,
        table: str,
        df: DataFrame,
        keys: list[str],
        n_buckets: int,
        touched: list[int] | None = None,
    ) -> dict:
        """Bucketed MERGE. Buckets hash on ``keys[0]``; the matched-row
        rewrite anti-joins on ALL key columns (composite keys supported, e.g.
        edges on (conv_id_a, conv_id_b) bucketed by conv_id_a). The merged
        rows of the ``touched`` buckets are staged in one write and swapped
        in bucket by bucket; a staged bucket outside ``touched`` raises
        before the first swap (see :meth:`upsert`)."""
        path = self._path(table)
        df2 = df.withColumn("_bucket", self._bucket_col(keys[0], n_buckets))
        if not self.exists(table):
            df2.write.mode("overwrite").partitionBy("_bucket").parquet(path)
            self._write_table_meta(
                table,
                {"n_buckets": n_buckets, "bucket_key": keys[0], "merge_keys": keys, "schema": df2.schema.json()},
            )
            n = _footer_rows(path)
            return {"rows_written": n, "buckets_touched": n_buckets, "buckets_total": n_buckets}
        if touched is None:
            touched = self._touched_buckets(df, keys[0], n_buckets)
        if not touched:  # empty batch: nothing to merge, nothing rewritten
            return {"rows_written": 0, "buckets_touched": 0, "buckets_total": n_buckets}
        current = self._read_raw(table).where(F.col("_bucket").isin(touched))
        merged = current.join(df2.select(*keys).distinct(), keys, "left_anti").unionByName(df2)
        _, rows = self._staged_swap(table, merged, touched)
        return {"rows_written": rows, "buckets_touched": len(touched), "buckets_total": n_buckets}

    def delete_keys(
        self,
        table: str,
        keys: DataFrame,
        cols: list[str] | str,
        prune_hint: DataFrame | None = None,
        touched: list[int] | None = None,
        insert: DataFrame | None = None,
    ) -> int:
        """DELETE FROM table WHERE any of ``cols`` ∈ keys — as LEFT ANTI joins
        against the keys DATAFRAME. Keys are never collected to the driver
        (the r1 cut built ``isin`` literal lists — driver OOM / plan blowup
        when a sweep expires millions of rows). Returns rows deleted, counted
        from the parquet footers of the replaced and the staged files (no
        count job).

        Callers whose ``keys`` derive from THIS table must materialize them
        first (``localCheckpoint``) — the rewrite swaps the underlying files.

        Bucketed tables: only buckets that can contain the doomed rows are
        read, staged in one write and swapped in; buckets left empty are
        dropped. Pruning engages when (a) deleting ON the bucket key (buckets
        derived from ``keys``), (b) the caller supplies ``prune_hint`` — a
        single-column frame of BUCKET-KEY values covering every doomed row
        (e.g. recomputed band hashes of the conv_ids being purged), or (c)
        the caller passes the bucket ids themselves as ``touched``. Hints and
        bucket lists must be COMPLETE: a doomed row living in a bucket they
        miss survives silently, so they are only valid when the bucket-key
        values of the doomed rows are deterministically derivable from the
        delete keys. Without pruning the whole table is rewritten.

        ``insert``: rows added in the SAME rewrite (a MERGE whose source
        deletes the keys' rows and inserts new ones, e.g. a sha group's new
        representative replacing the dead one). They must not collide with
        surviving rows, and on a pruned delete they must hash into the
        rewritten buckets — a row staged outside them raises before any swap.
        The return value is then rows before minus rows after.

        A delete that removes nothing (and inserts nothing) discards its
        staged write: the table's files are left as they were.
        """
        cols = [cols] if isinstance(cols, str) else list(cols)
        if not self.exists(table):
            return 0
        # no distinct: an anti join ignores duplicate keys
        keys = keys.select(F.col(keys.columns[0]).alias("_k"))
        meta = self._read_table_meta(table)
        n_buckets = meta.get("n_buckets")
        if n_buckets and touched is None:
            if cols == [meta.get("bucket_key")]:
                touched = self._touched_buckets(keys, "_k", int(n_buckets))
            elif prune_hint is not None:
                touched = self._touched_buckets(prune_hint, prune_hint.columns[0], int(n_buckets))
        current = self._read_raw(table)
        if n_buckets and touched is not None:
            if not touched and insert is None:
                return 0
            current = current.where(F.col("_bucket").isin(touched))
        else:
            touched = None
        keep = current
        for c in cols:
            keep = keep.join(keys.withColumnRenamed("_k", c), c, "left_anti")
        if insert is not None:
            if n_buckets:
                insert = insert.withColumn("_bucket", self._bucket_col(meta["bucket_key"], int(n_buckets)))
            keep = keep.unionByName(insert)
        before, after = self._staged_swap(
            table, keep.select(*current.columns), touched, discard_if_same=insert is None
        )
        return before - after

    def _touched_buckets(self, vals: DataFrame, col: str, n_buckets: int) -> list[int]:
        """Bucket ids the given bucket-key values hash into — ≤ n_buckets
        small ints, a bounded driver value (never a key collect)."""
        kb = vals.select(self._bucket_col(col, n_buckets).alias("_bucket")).distinct()
        return [r["_bucket"] for r in kb.collect()]

    def delete_where(self, table: str, condition) -> int:
        """Row-level delete by COLUMN PREDICATE (age gates, quality floors) —
        filter + staged rewrite (Iceberg: DELETE FROM … WHERE). For key-set
        deletes use :meth:`delete_keys`; a predicate built from a collected
        key list is the driver-OOM anti-pattern. Returns rows deleted, from
        the parquet footers; a predicate that matches nothing leaves the
        table's files as they were."""
        if not self.exists(table):
            return 0
        keep = self._read_raw(table).where(~condition)
        before, after = self._staged_swap(table, keep, None, discard_if_same=True)
        return before - after

    def upsert_replace(self, table: str, df: DataFrame) -> int:
        """Atomic-enough full-table swap: write to a staging dir, rename over
        the final path (never overwrite a path mid-read). Preserves bucket
        partitioning when the table has it. Returns the rows written, from
        the staged files' parquet footers."""
        return self._staged_swap(table, df, None)[1]

    def _staged_swap(
        self,
        table: str,
        df: DataFrame,
        touched: list[int] | None,
        discard_if_same: bool = False,
    ) -> tuple[int, int]:
        """The warehouse's one write protocol: write ``df`` ONCE to a staging
        dir beside the table, count rows from parquet footers, then swap.

        - ``touched=None``: the staged dir replaces the whole table dir.
        - ``touched`` (bucketed tables): each listed bucket dir is replaced
          by its staged dir, or dropped when the rewrite left it empty.
          Buckets outside the list are never read or written, so a staged
          bucket outside it would lose the table's rows there: that raises
          ValueError before the first rename, and the table is untouched.

        Returns (rows replaced, rows staged). With ``discard_if_same`` equal
        counts mean nothing changed (a delete that matched no row): the
        staging dir is dropped and the table's files stay as they were.

        Bucketed writes repartition ON the bucket column first, so each
        bucket is one task → one file (without it every upstream task writes
        a file per bucket it holds: 527 files measured for a 16-bucket
        clusters table, each paid again by every later scan)."""
        meta = self._read_table_meta(table)
        path = self._path(table)
        staged = self._path(f"_staging_{table}_{uuid.uuid4().hex[:8]}")
        if meta.get("n_buckets"):
            if "_bucket" not in df.columns:
                df = df.withColumn("_bucket", self._bucket_col(meta["bucket_key"], int(meta["n_buckets"])))
            df.repartition(F.col("_bucket")).write.mode("overwrite").partitionBy("_bucket").parquet(staged)
        else:
            df.write.mode("overwrite").parquet(staged)
        try:
            tag = uuid.uuid4().hex[:8]
            if touched is None:
                pairs = [(staged, path, self._path(f"_old_{table}_{tag}"))]
            else:
                stray = {
                    d for d in os.listdir(staged) if d.startswith("_bucket=")
                } - {f"_bucket={b}" for b in touched}
                if stray:
                    raise ValueError(
                        f"{table}: staged rows in buckets outside the rewrite: {sorted(stray)}"
                    )
                # old dirs: a leading "_" and no "=" keep readers from
                # taking them for bucket partitions
                pairs = [
                    (f"{staged}/_bucket={b}", f"{path}/_bucket={b}", f"{path}/_old_bucket_{b}_{tag}")
                    for b in touched
                ]
            before = sum(_footer_rows(dst) for _, dst, _ in pairs)
            after = sum(_footer_rows(src) for src, _, _ in pairs)
            if discard_if_same and before == after:
                return before, after
            for src, dst, old in pairs:
                if os.path.isdir(dst):
                    os.rename(dst, old)
                if os.path.isdir(src):
                    os.rename(src, dst)
                shutil.rmtree(old, ignore_errors=True)
            if touched is None and "schema" in meta:  # reads use the stored schema
                self._write_table_meta(table, {**meta, "schema": df.schema.json()})
            return before, after
        finally:
            shutil.rmtree(staged, ignore_errors=True)


def _footer_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, read from their footers —
    no Spark job. 0 for a missing path. Skips what Spark's reader skips:
    names starting with "." or with "_" but holding no "="."""
    hidden = lambda n: n.startswith(".") or (n.startswith("_") and "=" not in n)  # noqa: E731
    n = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not hidden(x)]
        n += sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in names
            if f.endswith(".parquet") and not hidden(f)
        )
    return n


class MetricsSink:
    """Accumulates stage metrics and flushes them to ``_metrics`` parquet."""

    def __init__(self, warehouse: Warehouse, run_id: str | None = None):
        self.warehouse = warehouse
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.rows: list[dict] = []

    # Explicit schema: ``flush`` never infers types (an all-None column has
    # none). It matches what Spark wrote here before, so Spark reads old and
    # new files of ``_metrics`` as one table.
    _SCHEMA = pa.schema(
        [
            ("run_id", pa.string()),
            ("stage", pa.string()),
            ("wall_s", pa.float64()),
            ("rows_out", pa.int64()),
            ("extra", pa.string()),
            ("recorded_at", pa.float64()),
        ]
    )

    def record_count(self, stage: str, rows_out: int, wall_s: float | None = None, **extra) -> None:
        self.rows.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "wall_s": float(wall_s) if wall_s is not None else None,
                "rows_out": int(rows_out),
                "extra": json.dumps(extra, default=str),
                "recorded_at": time.time(),
            }
        )

    def flush(self) -> None:
        """Write the buffered rows as one parquet file through pyarrow — a
        handful of rows per micro-batch, not worth a Spark job. The file is
        written under a hidden name (Spark skips ``.``-prefixed files) and
        renamed into place, so readers never see a partial file."""
        if not self.rows:
            return
        d = self.warehouse._path("_metrics")
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist(self.rows, schema=self._SCHEMA), tmp)
        os.rename(tmp, os.path.join(d, name))
        self.rows = []
