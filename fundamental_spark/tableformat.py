"""Parquet-backed table shim with Iceberg-like semantics.

The design targets Iceberg tables (MERGE INTO, snapshots, partition
pruning). This sandbox has no Iceberg runtime jar, so `Warehouse`
emulates the API over versioned parquet snapshot directories:

- every write is a new immutable snapshot dir (``v000001/``...), with a
  ``_current`` pointer file updated atomically last — that gives us the
  snapshot pinning the crawl resume path needs (SURVEY.md §2.8 T5).
  Every write method runs the one commit sequence ``_commit``: version
  bump, schema check, data files, schema record on v1, pointer flip;
- every piece of driver metadata (``_current``, ``_schema.json``,
  ``_meta.json``, ``_manifest.json``, the compaction and vacuum floors,
  the crawl's ``checkpoint.json``) is JSON read by ``read_meta`` and
  written by ``write_meta`` (tmp file + atomic rename), paths relative
  to the root;
- ``merge_upsert`` emulates ``MERGE INTO target USING batch ON key``.
  For **bucketed** tables (``ensure_bucketed``) the snapshot is
  hash-partitioned on the merge key and the merge rewrites ONLY the
  buckets containing batch keys — per-snapshot ``_manifest.json`` maps
  each bucket to the snapshot version holding its live data, exactly
  how Iceberg manifests point at data files. Per-batch write cost is
  O(touched buckets), not O(table).
- ``append_delta`` writes only the delta as a new snapshot (append-only
  logs); ``compact_deltas`` folds deltas ≤ some committed version into
  one base dir (Iceberg's ``rewrite_data_files``), so ``read_deltas``
  opens O(deltas-since-compaction) dirs instead of every snapshot dir
  ever written.
- the schema lives in table metadata, as in Iceberg: the first commit
  of a table, flat or bucketed, records it in ``_schema.json`` beside
  ``_current`` (outside every snapshot dir). ``read``/``read_deltas``
  hand it to the parquet reader instead of running a footer-inference
  Spark job per call, and a bucketed table whose buckets are all empty
  reads as no rows under it. A later commit whose column names or
  types differ from the record raises ``ValueError`` before anything
  is written (nullability is not compared; reads relax it, as Spark's
  file sources do). A table with no record (written before the record
  existed, or only ever by ``append_delta_files``) is read with schema
  inference.

At 100 TB an Iceberg catalog replaces this class wholesale — all call
sites go through this narrow API so the swap is one module.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "bkt"  # partition column for bucketed snapshots


class Warehouse:
    def __init__(
        self, spark: SparkSession, root: str, auto_vacuum_every: int = 64
    ):
        """``auto_vacuum_every``: every Nth bucketed commit triggers
        ``vacuum`` on that table (Iceberg's expire_snapshots cadence),
        so MERGE-heavy tables don't grow dead snapshot dirs until a
        human intervenes. 0 disables. Vacuum raises the table's
        rollback floor to the vacuumed version — the same contract as
        delta compaction expiry.

        ``root`` must be a local path: table metadata is written with
        Python file calls, so a URI (``file:``, ``hdfs:``, ``s3a:``)
        would split one table between the URI Spark resolves and a
        relative directory named after the URI. It raises before
        anything is created."""
        scheme = urlsplit(os.fspath(root)).scheme
        if scheme:
            raise ValueError(
                f"Warehouse root {root!r} has URI scheme {scheme!r}; "
                f"pass a local filesystem path"
            )
        self.spark = spark
        self.root = root
        self.auto_vacuum_every = auto_vacuum_every
        os.makedirs(root, exist_ok=True)

    # ---- metadata I/O -------------------------------------------------------
    def read_meta(self, rel: str, default=None):
        """The JSON value stored at ``rel`` (a path relative to the
        root), or ``default`` when the file does not exist. Every piece
        of driver metadata is read here."""
        try:
            with open(os.path.join(self.root, rel)) as f:
                return json.load(f)
        except FileNotFoundError:
            return default

    def write_meta(self, rel: str, value) -> None:
        """Store ``value`` as JSON at ``rel`` (relative to the root)
        atomically: a reader sees the old file or the new one, never a
        torn write. Every piece of driver metadata is written here."""
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)

    # ---- snapshot plumbing -------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def current_version(self, name: str) -> int:
        return self.read_meta(f"{name}/_current", 0)

    def _snapshot_dir(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"v{version:06d}")

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    def _commit(self, name: str, schema: StructType | None, write) -> int:
        """The one commit sequence: bump the version, refuse a schema
        that differs from the record, ``write(out_dir)`` the snapshot's
        files, record the schema on the first commit, flip the pointer.
        Column names and types are compared, not nullability; a first
        commit sets the record instead. ``schema=None`` is neither
        checked nor recorded."""
        new_v = self.current_version(name) + 1
        rec = self._recorded_schema(name) if schema is not None and new_v > 1 else None
        if rec is not None and rec.simpleString() != schema.simpleString():
            raise ValueError(
                f"table {name}: commit schema {schema.simpleString()} differs "
                f"from the recorded {rec.simpleString()}"
            )
        write(self._snapshot_dir(name, new_v))
        if schema is not None and new_v == 1:
            # after the data, before the pointer: a reader of v1 finds it
            self.write_meta(f"{name}/_schema.json", schema.jsonValue())
        self.write_meta(f"{name}/_current", new_v)  # atomic pointer swap = commit
        return new_v

    def _commit_frame(self, name: str, df: DataFrame) -> int:
        return self._commit(
            name, df.schema, lambda out: df.write.mode("overwrite").parquet(out)
        )

    # ---- schema metadata ----------------------------------------------------
    def _schema_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_schema.json")

    def _recorded_schema(self, name: str) -> StructType | None:
        rec = self.read_meta(f"{name}/_schema.json")
        return None if rec is None else StructType.fromJson(rec)

    def _read_flat(self, name: str, *paths: str) -> DataFrame:
        schema = self._recorded_schema(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(*paths)

    # ---- bucketing metadata -------------------------------------------------
    def _meta_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_meta.json")

    def bucket_meta(self, name: str) -> dict | None:
        return self.read_meta(f"{name}/_meta.json")

    def ensure_bucketed(self, name: str, key: str, n_buckets: int = 32) -> None:
        """Declare `name` hash-bucketed on `key` (Iceberg
        ``PARTITIONED BY (bucket(n, key))``). Idempotent. If a flat
        snapshot already exists it is migrated once (full rewrite —
        the last one this table will ever pay); a crash before that
        commit leaves a flat current snapshot under the meta, which
        ``read`` reads as flat and ``merge_upsert`` migrates."""
        meta = self.bucket_meta(name)
        if meta is not None:
            if meta["key"] != key or meta["n_buckets"] != n_buckets:
                raise ValueError(
                    f"table {name} already bucketed as {meta}, "
                    f"requested key={key} n_buckets={n_buckets}"
                )
            return
        meta = {"key": key, "n_buckets": n_buckets}
        self.write_meta(f"{name}/_meta.json", meta)
        if self.exists(name):
            flat = self.spark.read.parquet(
                self._snapshot_dir(name, self.current_version(name))
            )
            self._commit_bucketed(name, self._with_bucket(flat, meta),
                                  touched=list(range(n_buckets)), prev_manifest={})

    def _with_bucket(self, df: DataFrame, meta: dict) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(
                F.xxhash64(F.col(meta["key"]).cast("string")),
                F.lit(meta["n_buckets"]),
            ).cast("int"),
        )

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._snapshot_dir(name, version), "_manifest.json")

    def _read_manifest(self, name: str, version: int) -> dict[int, int] | None:
        """bucket -> snapshot version holding its live data; None when
        the snapshot is flat (no manifest)."""
        doc = self.read_meta(f"{name}/v{version:06d}/_manifest.json")
        return None if doc is None else {int(k): v for k, v in doc["buckets"].items()}

    def _commit_bucketed(
        self,
        name: str,
        df_with_bkt: DataFrame,
        touched: list[int],
        prev_manifest: dict[int, int],
    ) -> int:
        def write(out: str) -> None:
            new_v = self.current_version(name) + 1  # the pointer flips after this
            df_with_bkt.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(out)
            manifest = dict(prev_manifest)
            for k in touched:
                # a touched bucket with zero surviving rows has no dir —
                # drop it from the manifest rather than point at nothing
                if os.path.isdir(os.path.join(out, f"{BUCKET_COL}={k}")):
                    manifest[k] = new_v
                else:
                    manifest.pop(k, None)
            self.write_meta(
                f"{name}/v{new_v:06d}/_manifest.json",
                {"buckets": {str(k): v for k, v in manifest.items()}},
            )

        data_schema = StructType(
            [f for f in df_with_bkt.schema.fields if f.name != BUCKET_COL]
        )
        new_v = self._commit(name, data_schema, write)
        # periodic snapshot expiry: bucketed tables are MERGE-rewritten
        # in place, so without GC every rewrite of a bucket strands its
        # old dir forever
        if self.auto_vacuum_every and new_v % self.auto_vacuum_every == 0:
            self.vacuum(name)
        return new_v

    def _read_buckets(
        self, name: str, manifest: dict[int, int], buckets: list[int] | None = None
    ) -> DataFrame | None:
        """Union the live bucket dirs (optionally restricted), grouped by
        snapshot version so each group is one parquet read with a shared
        basePath (recovers the bkt partition column)."""
        want = manifest if buckets is None else {
            k: v for k, v in manifest.items() if k in set(buckets)
        }
        by_version: dict[int, list[int]] = {}
        for k, v in want.items():
            by_version.setdefault(v, []).append(k)
        parts = []
        for v, ks in sorted(by_version.items()):
            base = self._snapshot_dir(name, v)
            paths = [os.path.join(base, f"{BUCKET_COL}={k}") for k in sorted(ks)]
            parts.append(self.spark.read.option("basePath", base).parquet(*paths))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_live(
        self, name: str, manifest: dict[int, int], buckets: list[int] | None = None
    ) -> DataFrame:
        """``_read_buckets`` without the bucket column; when every
        bucket is empty, no rows under the recorded schema."""
        df = self._read_buckets(name, manifest, buckets)
        if df is None:
            return self.spark.createDataFrame([], self._recorded_schema(name))
        return df.drop(BUCKET_COL)

    # ---- public API (Iceberg-shaped) ---------------------------------------
    def read(self, name: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version(name)
        if v <= 0:
            raise FileNotFoundError(f"table {name} has no snapshot")
        manifest = self._read_manifest(name, v) if self.bucket_meta(name) else None
        if manifest is None:
            return self._read_flat(name, self._snapshot_dir(name, v))
        return self._read_live(name, manifest)

    def read_matching(self, name: str, keys: DataFrame, key: str) -> DataFrame:
        """Rows of `name` whose `key` appears in `keys` — on a bucketed
        table this reads ONLY the buckets containing the requested keys
        (Iceberg partition pruning on bucket(key)), then semi-joins;
        per-batch read cost O(touched buckets), not O(table)."""
        meta = self.bucket_meta(name)
        v = self.current_version(name)
        manifest = (
            self._read_manifest(name, v)
            if meta is not None and v > 0 and meta["key"] == key else None
        )
        if manifest is None:
            return self.read(name).join(keys.select(key), key, "left_semi")
        keys_b = self._with_bucket(keys.select(key), meta)
        touched = sorted(
            r[BUCKET_COL] for r in keys_b.select(BUCKET_COL).distinct().collect()
        )
        live = self._read_live(name, manifest, buckets=touched)
        return live.join(keys.select(key), key, "left_semi")

    def read_or_empty(self, name: str, schema: StructType) -> DataFrame:
        if self.exists(name):
            return self.read(name)
        return self.spark.createDataFrame([], schema)

    def overwrite(self, name: str, df: DataFrame) -> int:
        meta = self.bucket_meta(name)
        if meta is not None:
            return self._commit_bucketed(
                name, self._with_bucket(df, meta),
                touched=list(range(meta["n_buckets"])), prev_manifest={},
            )
        return self._commit_frame(name, df)

    # ---- append-only delta log ----------------------------------------------
    def compaction_floor(self, name: str) -> int:
        return self.read_meta(f"{name}/_compaction", 0)

    def _compact_dir(self, name: str, floor: int) -> str:
        return os.path.join(self._tdir(name), f"c{floor:06d}")

    def append_delta(self, name: str, df: DataFrame) -> int:
        """Append-only commit: the new snapshot dir holds ONLY the delta;
        ``read_deltas`` unions the compacted base (if any) plus the delta
        dirs since — the parquet emulation of Iceberg appends (no rewrite
        of history)."""
        return self._commit_frame(name, df)

    def append_delta_rows(self, name: str, rows: list[dict], schema: StructType) -> int:
        """Driver-side micro-append for O(1)-row lineage tables (per-wave
        metrics): writes the delta snapshot directly with pyarrow — zero
        Spark jobs, zero scheduling round-trips. On-disk shape is the
        same parquet delta every reader already understands. Only for
        driver-resident row counts (a handful per call)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        def write(out: str) -> None:
            os.makedirs(out, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
                os.path.join(out, "part-00000.parquet"),
                compression="snappy",
            )

        return self._commit(name, schema, write)

    def append_delta_files(self, name: str, job) -> int:
        """Append-only commit whose data files are written directly by
        executor tasks (the Iceberg write path: tasks stream data files,
        the driver commits a manifest of the files that succeeded).

        ``job(out_dir)`` must run a Spark action whose tasks write
        parquet part files into ``out_dir`` and return the list of file
        names belonging to successful task attempts (e.g. collect the
        summary rows of crawl.docsink.make_documents_sink). Files in
        ``out_dir`` NOT in that list — orphans of failed or duplicate
        task attempts — are deleted before the pointer flips, so retries
        and speculation can never double data. The pointer swap stays
        the single atomic commit; a crash mid-job leaves an unreferenced
        snapshot dir that ``rollback`` prunes, exactly like
        ``append_delta``. The files' schema is neither checked nor
        recorded."""
        def write(out: str) -> None:
            os.makedirs(out, exist_ok=True)
            committed = set(job(out))
            # delete EVERY non-committed file, not just '*.parquet': a task
            # attempt killed mid-write leaves its temp file (e.g. docsink's
            # '*.parquet.inprogress') in the snapshot dir, and any stray
            # file not starting with '_'/'.' would be treated as a data
            # file by spark.read.parquet and break every subsequent read
            for f in os.listdir(out):
                p = os.path.join(out, f)
                if os.path.isfile(p) and f not in committed:
                    os.remove(p)

        return self._commit(name, None, write)

    def read_deltas(self, name: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version(name)
        if v <= 0:
            raise FileNotFoundError(f"table {name} has no snapshot")
        floor = self.compaction_floor(name)
        if v < floor:
            raise ValueError(
                f"table {name}: version {v} predates compaction floor {floor}"
            )
        paths = [self._compact_dir(name, floor)] if floor > 0 else []
        paths += [self._snapshot_dir(name, i) for i in range(floor + 1, v + 1)]
        return self._read_flat(name, *paths)

    def compact_deltas(self, name: str, upto: int | None = None) -> int:
        """Fold delta snapshots (floor, upto] plus the previous base into
        one base dir; delta dirs newer than `upto` stay live. Only call
        with `upto` ≤ a durably-committed (checkpointed) version — reads
        and rollbacks below the new floor become invalid, exactly like
        expiring Iceberg snapshots.

        Crash-safe: the new base is fully written before the floor
        pointer flips (atomic rename); stale dirs are deleted last, so a
        crash leaves only harmless garbage that the next compaction (or
        this one, re-run) removes. Returns the new floor."""
        v = upto if upto is not None else self.current_version(name)
        old_floor = self.compaction_floor(name)
        if v <= old_floor:
            return old_floor
        base = self.read_deltas(name, version=v)
        staging = self._compact_dir(name, v)
        base.write.mode("overwrite").parquet(staging)
        self.write_meta(f"{name}/_compaction", v)  # atomic: readers switch here
        # GC below the new floor
        if old_floor > 0:
            shutil.rmtree(self._compact_dir(name, old_floor), ignore_errors=True)
        for i in range(old_floor + 1, v + 1):
            shutil.rmtree(self._snapshot_dir(name, i), ignore_errors=True)
        return v

    def merge_upsert(
        self,
        name: str,
        batch: DataFrame,
        key: str,
        schema: StructType,
        when_matched_update: dict[str, F.Column] | None = None,
    ) -> int:
        """MERGE INTO name USING batch ON key.

        Default: matched rows are replaced by the batch row, unmatched
        target rows kept, unmatched batch rows inserted (the reference's
        insert-or-update upsert, database.go:766-915). If
        ``when_matched_update`` is given, it maps column -> expression
        evaluated on the joined (target t.*, batch b.*) row for matched
        rows instead of plain replacement.

        On a table declared via ``ensure_bucketed`` the merge reads and
        rewrites ONLY the buckets containing batch keys (the Iceberg
        MERGE file-pruning path); otherwise it merges against the full
        snapshot (correct, O(table) — fine for small dims only).
        """
        meta = self.bucket_meta(name)
        cols = [f.name for f in schema.fields]
        if meta is None:
            target = self.read_or_empty(name, schema)
            merged = self._merge_frames(target, batch, key, cols, when_matched_update)
            return self._commit_frame(name, merged)
        if meta["key"] != key:
            raise ValueError(f"merge key {key} != bucket key {meta['key']} for {name}")
        batch_b = self._with_bucket(batch, meta)
        touched = sorted(
            r[BUCKET_COL] for r in batch_b.select(BUCKET_COL).distinct().collect()
        )
        cur_v = self.current_version(name)
        manifest = self._read_manifest(name, cur_v) if cur_v > 0 else {}
        if manifest is None:
            # crash window in ensure_bucketed: _meta.json became visible
            # but the process died before the migration committed, so the
            # current snapshot is FLAT. read() already falls back; complete
            # the migration here — merge against the flat snapshot over ALL
            # buckets, one full rewrite, bucketed from then on.
            target = self._with_bucket(
                self.spark.read.parquet(self._snapshot_dir(name, cur_v)), meta
            )
            touched, manifest = list(range(meta["n_buckets"])), {}
        else:
            target = self._read_buckets(name, manifest, buckets=touched)
            if target is None:
                target = self._with_bucket(self.spark.createDataFrame([], schema), meta)
        merged = self._merge_frames(
            target, batch_b, key, cols + [BUCKET_COL], when_matched_update
        )
        return self._commit_bucketed(name, merged, touched=touched, prev_manifest=manifest)

    @staticmethod
    def _merge_frames(
        target: DataFrame,
        batch: DataFrame,
        key: str,
        cols: list[str],
        when_matched_update: dict[str, F.Column] | None,
    ) -> DataFrame:
        if when_matched_update is None:
            return target.join(batch.select(key), on=key, how="left_anti").unionByName(
                batch.select(*cols)
            )
        t = target.alias("t")
        b = batch.alias("b")
        joined = t.join(b, on=F.col(f"t.{key}") == F.col(f"b.{key}"), how="full_outer")
        matched = F.col(f"b.{key}").isNotNull() & F.col(f"t.{key}").isNotNull()
        only_batch = F.col(f"t.{key}").isNull()
        out_cols = []
        for c in cols:
            upd = when_matched_update.get(c, F.col(f"b.{c}"))
            expr = (
                F.when(matched, upd)
                .when(only_batch, F.col(f"b.{c}"))
                .otherwise(F.col(f"t.{c}"))
            )
            out_cols.append(expr.alias(c))
        return joined.select(*out_cols)

    def rollback(self, name: str, version: int) -> None:
        """Discard snapshots newer than `version` (orphans from a crash
        after data write but before checkpoint commit). Iceberg's
        metadata pointer does this implicitly; the parquet emulation
        prunes physically so append version ranges stay contiguous.
        Cannot roll back below the compaction floor (those snapshots
        were expired — same contract as Iceberg snapshot expiry)."""
        if version < self.compaction_floor(name):
            raise ValueError(
                f"table {name}: cannot roll back to {version}, "
                f"compaction floor is {self.compaction_floor(name)}"
            )
        if version < self.vacuum_floor(name):
            raise ValueError(
                f"table {name}: cannot roll back to {version}, "
                f"vacuum floor is {self.vacuum_floor(name)} (older "
                f"manifests may reference expired snapshot dirs)"
            )
        cur = self.current_version(name)
        for v in range(version + 1, cur + 1):
            shutil.rmtree(self._snapshot_dir(name, v), ignore_errors=True)
        if cur != version:
            self.write_meta(f"{name}/_current", version)

    def vacuum_floor(self, name: str) -> int:
        return self.read_meta(f"{name}/_vacuum_floor", 0)

    def vacuum(self, name: str) -> int:
        """Delete snapshot dirs of a bucketed table that hold no live
        bucket under the CURRENT manifest (space GC; Iceberg's
        ``expire_snapshots``). Only valid once no reader pins an older
        version; the rollback floor is raised to the vacuumed version
        so a later rollback cannot land on a manifest whose dirs were
        expired. Returns #dirs removed."""
        meta = self.bucket_meta(name)
        cur = self.current_version(name)
        if meta is None or cur <= 0:
            return 0
        live = set((self._read_manifest(name, cur) or {}).values()) | {cur}
        removed = 0
        for v in range(1, cur):
            d = self._snapshot_dir(name, v)
            if v not in live and os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        self.write_meta(f"{name}/_vacuum_floor", cur)
        return removed

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)
