"""Minimal versioned table: manifest-based snapshots over parquet.

The primitive that makes warehouse maintenance safe at scale: a table is
not a directory, it is a MANIFEST — an immutable, versioned list of data
directories. Readers resolve a manifest once and only ever see the files
it lists; writers add data then publish a new manifest with an atomic
rename. That gives, with ~100 lines and no lock service:

- **snapshot isolation**: a reader holding version N is unaffected by
  any later commit — including a compaction that logically rewrites
  everything it is reading;
- **time travel**: any retained version remains readable
  (``read(version=K)``);
- **safe compaction**: ``compact()`` rewrites the current snapshot into
  one directory and publishes it as a NEW version — old files are never
  deleted under a reader (vacuuming old versions is an explicit,
  separate policy decision);
- **atomic append/overwrite**: data lands in a commit-private directory
  first; the manifest rename is the only publication point, so readers
  never observe a half-written commit.

This is deliberately the idea behind production table formats (Iceberg /
Delta's log), shrunk to the engine's needs and kept fully inspectable —
the manifest is one JSON file per version. Single-writer by design:
concurrent WRITERS need a log service or conditional puts (documented
non-goal); concurrent readers-with-one-writer is the case this solves.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col


class VersionedTable:
    def __init__(self, base: str):
        self.base = base
        os.makedirs(os.path.join(base, "manifests"), exist_ok=True)

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.base, "manifests", f"v{version:06d}.json")

    def versions(self) -> list[int]:
        mdir = os.path.join(self.base, "manifests")
        return sorted(
            int(f[1:-5]) for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _publish(self, dirs: list[str], meta: dict | None = None) -> int:
        prev = self.latest_version()
        version = 0 if prev is None else prev + 1
        tmp = self._manifest_path(version) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"version": version, "dirs": dirs, "meta": meta or {}}, f
            )
        # rename is the atomic publication point: data AND meta (e.g. the
        # applied stream batch id) become visible in one transaction
        os.rename(tmp, self._manifest_path(version))
        return version

    def latest_meta(self) -> dict:
        v = self.latest_version()
        return {} if v is None else self._load(v).get("meta", {})

    def batch_applied(self, key: str, batch_id: int) -> bool:
        """Whether stream batch ``batch_id`` was already applied under the
        meta guard ``key``: the replay guard of every micro-batch sink.

        A sink commits its id under its own namespaced ``key`` in the
        manifest that publishes the batch's rows, so a replayed batch
        (re-delivery after a crash) finds it and must skip: re-adding is
        not idempotent. An id BELOW the recorded mark means the stream's
        checkpoint was deleted (ids restart at 0) and every new batch
        will be skipped, so that case warns.
        """
        last = self.latest_meta().get(key)
        if last is None or batch_id > last:
            return False
        if batch_id < last:
            warnings.warn(
                f"{key}: batch_id {batch_id} < recorded high-water mark "
                f"{last} — was the stream checkpoint deleted? All batches "
                f"will be skipped until ids pass {last}; clear the guard "
                f"via table.commit(df, meta={{{key!r}: None}}) — a None "
                "meta value deletes the key — to resume (and expect a "
                "full backfill).",
                stacklevel=3,
            )
        return True

    def meta_of(self, version: int) -> dict:
        """Meta of a specific retained version (time-travel companion to
        ``read(version=...)`` — e.g. find the snapshot a given stream
        batch saw by scanning versions' recorded batch ids)."""
        return self._load(version).get("meta", {})

    def history(self, spark: SparkSession) -> DataFrame:
        """Audit log of retained versions (DESCRIBE HISTORY analogue).

        One row per retained manifest: version, number of data dirs the
        snapshot references, dirs ADDED relative to the previous retained
        version (0 for pure overwrites of shrinking snapshots), and the
        commit meta as a JSON string. Driver cost is one tiny JSON read
        per manifest — never touches data files — so the audit is free
        even on a petabyte table.
        """
        import json as _json

        rows = []
        prev_dirs: set[str] = set()
        for v in self.versions():
            m = self._load(v)
            dirs = list(m.get("dirs", []))
            rows.append(
                (
                    v,
                    len(dirs),
                    len(set(dirs) - prev_dirs),
                    _json.dumps(m.get("meta", {}), sort_keys=True),
                )
            )
            prev_dirs = set(dirs)
        return spark.createDataFrame(
            rows, "version int, n_dirs int, n_added_dirs int, meta_json string"
        )

    # -- write path --------------------------------------------------------

    def commit(
        self, df: DataFrame, mode: str = "append", meta: dict | None = None
    ) -> int:
        """Write df into a commit-private dir, publish a new manifest.

        ``append`` unions the new dir with the current snapshot's dirs;
        ``overwrite`` makes the new dir the whole snapshot. Either way
        no existing data file is touched. ``meta`` merges into (never
        replaces) the previous commit's meta — guards owned by other
        writers (e.g. a rollup stream's applied batch id) survive
        unrelated commits. Namespace your keys accordingly. A meta value
        of ``None`` DELETES that key — the only way to clear a guard
        (e.g. ``rollup_batch_id`` after a checkpoint rebuild) through
        the public API.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        # meta MERGES into the previous commit's meta (new keys win) rather
        # than replacing it: a plain commit() or merge_upsert() on a table
        # that also carries a stream's applied-batch-id guard must not
        # silently reset that guard (which would re-admit replayed batches).
        # None values are tombstones: explicit, intentional key removal.
        merged_meta = dict(self.latest_meta())
        merged_meta.update(meta or {})
        meta = {k: v for k, v in merged_meta.items() if v is not None}
        prev = self.latest_version()
        new_dir = os.path.join(
            self.base, "data", f"c{0 if prev is None else prev + 1:06d}"
        )
        df.write.mode("errorifexists").parquet(new_dir)
        base_dirs = (
            [] if mode == "overwrite" or prev is None
            else list(self._load(prev)["dirs"])
        )
        return self._publish(base_dirs + [new_dir], meta=meta)

    def compact(self, spark: SparkSession, n_files: int = 1) -> int:
        """Rewrite the current snapshot into one directory, publish it.

        Logically an overwrite-with-same-content: readers on older
        versions keep their (uncompacted) files; new readers get the
        compacted layout.
        """
        cur = self.read(spark)
        prev = self.latest_version()
        new_dir = os.path.join(self.base, "data", f"c{prev + 1:06d}")
        cur.coalesce(n_files).write.mode("errorifexists").parquet(new_dir)
        # meta carries forward (commit()-wide merge semantics): a
        # compaction changes layout, not content — dropping e.g. the
        # applied stream batch id would un-guard a rollup stream's replay
        # check. _publish is called directly here, so merge explicitly.
        return self._publish([new_dir], meta=self.latest_meta())

    def merge_upsert(
        self,
        updates: DataFrame,
        key: str,
        delete_col: str | None = None,
        meta: dict | None = None,
    ) -> int:
        """MERGE: upsert rows by key (and optionally delete), new version.

        The Delta-style maintenance primitive on top of snapshots: read
        the current version, anti-join rows whose key appears in
        ``updates`` (they are being replaced), union the surviving base
        rows with the updates (minus rows flagged in ``delete_col``),
        and commit the result as an overwrite — one shuffle join, and
        readers on the old version are untouched. Updates must carry the
        full row schema (plus the optional boolean delete flag).
        """
        spark = updates.sparkSession
        upd = updates
        deletes = None
        if delete_col is not None:
            deletes = upd.filter(F_col(delete_col)).select(key)
            upd = upd.filter(~F_col(delete_col)).drop(delete_col)
        if self.latest_version() is None:
            merged = upd
        else:
            base = self.read(spark)
            replaced = upd.select(key).union(
                deletes if deletes is not None else upd.select(key).limit(0)
            )
            merged = base.join(replaced, key, "left_anti").unionByName(upd)
        return self.commit(merged, mode="overwrite", meta=meta)

    def merge_aggregate(
        self,
        updates: DataFrame,
        keys: list[str],
        sum_cols: list[str],
        meta: dict | None = None,
    ) -> int:
        """Incremental view maintenance for additive rollups.

        The table holds a pre-aggregated view (e.g. hourly counts/sums);
        ``updates`` carries NEW partial aggregates over the same keys
        (one micro-batch's groupBy output). Instead of re-aggregating
        the world, only the touched keys are recombined: base rows whose
        key appears in ``updates`` union with the updates and re-sum;
        untouched base rows pass through via an anti-join. Additive
        measures (SUM/COUNT) are exactly mergeable this way — the
        standard incremental-view trick that turns a full recompute into
        work proportional to the batch.
        """
        from pyspark.sql import functions as F

        spark = updates.sparkSession
        if self.latest_version() is None:
            return self.commit(updates, mode="overwrite", meta=meta)
        base = self.read(spark)
        touched_keys = updates.select(*keys).distinct()
        combined = (
            base.join(touched_keys, keys, "left_semi")
            .unionByName(updates)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
        merged = base.join(touched_keys, keys, "left_anti").unionByName(combined)
        return self.commit(merged, mode="overwrite", meta=meta)

    # -- change data feed --------------------------------------------------

    def changes(
        self, spark: SparkSession, v_from: int, v_to: int, key: str
    ) -> DataFrame:
        """Keyed change feed between two snapshots (Delta CDF semantics).

        One full-outer join on ``key`` between the two versions, then
        rows classify by null-side and value comparison:
        ``insert`` (post image), ``delete`` (pre image),
        ``update_preimage`` + ``update_postimage`` (both rows emitted).
        Keys must be unique within each snapshot (the merge_upsert
        invariant). Struct equality compares every non-key column.
        """
        from pyspark.sql import functions as F

        a = self.read(spark, v_from)
        b = self.read(spark, v_to)
        others = [c for c in b.columns if c != key]
        an = a.select(key, F.struct(*others).alias("_pre"))
        bn = b.select(key, F.struct(*others).alias("_post"))
        fo = an.join(bn, key, "full_outer")
        ins = fo.filter(F.col("_pre").isNull()).select(
            key, "_post.*", F.lit("insert").alias("_change_type")
        )
        dele = fo.filter(F.col("_post").isNull()).select(
            key, "_pre.*", F.lit("delete").alias("_change_type")
        )
        upd = fo.filter(
            F.col("_pre").isNotNull()
            & F.col("_post").isNotNull()
            & (F.col("_pre") != F.col("_post"))
        )
        pre = upd.select(key, "_pre.*", F.lit("update_preimage").alias("_change_type"))
        post = upd.select(
            key, "_post.*", F.lit("update_postimage").alias("_change_type")
        )
        return ins.unionByName(dele).unionByName(pre).unionByName(post)

    def vacuum(self, keep_last: int = 2) -> dict:
        """Drop versions older than the last ``keep_last`` and delete data
        dirs no retained manifest references.

        The explicit policy step separated from compaction: compaction
        never deletes (readers may hold old snapshots); vacuum is where
        the operator declares how far back readers are allowed to be.
        Returns {"removed_versions": [...], "removed_dirs": [...]}.
        """
        import shutil

        vs = self.versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        live = {d for v in keep for d in self._load(v)["dirs"]}
        dead = [
            d
            for v in drop
            for d in self._load(v)["dirs"]
            if d not in live
        ]
        for d in sorted(set(dead)):
            shutil.rmtree(d, ignore_errors=True)
        for v in drop:
            os.remove(self._manifest_path(v))
        return {"removed_versions": drop, "removed_dirs": sorted(set(dead))}

    # -- read path ---------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Resolve a manifest (latest by default) and read exactly its files.

        ``merge_schema=True`` is the schema-evolution read: a snapshot
        whose commits carry different (grown) schemas unions them with
        NULL-fill for columns absent in older files — the Iceberg/Delta
        add-column semantics, paid only when asked for (schema merging
        reads every file's footer). Readers pinned to an old version see
        the old schema unchanged; evolution is a property of the
        snapshot being read, not of the table.
        """
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError(f"empty table at {self.base}")
        dirs = self._load(v)["dirs"]
        r = spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(*dirs)
