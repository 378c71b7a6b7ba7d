"""TableIO — the warehouse's one table store: snapshot-isolated Parquet.

Every KG table (mentions, entities, edges, triples, analytics) is written
and read through this seam, by the staged batch build and by the tail
ingest alike, so both entry points see one layout:

* every write lands in a new immutable snapshot directory behind an
  atomically switched pointer (Iceberg's observable semantics, on plain
  Parquet);
* ``bucket_spec`` hash-clusters a snapshot on a join key (``mentions`` and
  ``entities`` on ``surface_norm`` in the batch build), so joins on the
  re-read tables run without an Exchange;
* ``triples`` is partitioned by ``conv_bucket`` (``with_conv_bucket``), a
  pure function of ``conv_id``, which lets a MERGE keyed on ``conv_id``
  rewrite only the buckets its updates touch;
* a snapshot's row count is the sum of its Parquet footers (``rows``),
  read on the driver without a Spark job, as Iceberg keeps a snapshot's
  record count in its metadata.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# conversation buckets of the conv_id-keyed tables; one constant for the
# batch build and the tail fold, so a fold's pruned MERGE lines up with the
# partition directories the batch build wrote
CONV_BUCKETS = 16


def data_files(root: str) -> list[str]:
    """The data files Spark's file index reads under ``root``: every file
    below it, skipping any name (file or directory) that starts with ``.``,
    or with ``_`` unless it is a ``_k=v`` partition directory. That drops
    ``_SUCCESS``, ``_temporary``, ``_bucketspec.json`` and ``.crc``
    checksums."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not hidden(d)]
        out += [os.path.join(dirpath, f) for f in sorted(files) if not hidden(f)]
    return out


def footer_rows(root: str) -> int:
    """Rows stored under ``root``: the sum of ``num_rows`` over the Parquet
    footers of ``data_files(root)``, read with pyarrow on the driver."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in data_files(root))


def _one_file_per_partition(df: DataFrame, partition_cols: list[str] | None) -> DataFrame:
    """``df`` hash-repartitioned by ``partition_cols``, so a partitioned
    write of it emits one file per partition value."""
    if not partition_cols:
        return df
    return df.repartition(*[F.col(c) for c in partition_cols])


def with_conv_bucket(df: DataFrame) -> DataFrame:
    """``df`` plus ``conv_bucket = pmod(xxhash64(conv_id), CONV_BUCKETS)``."""
    return df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(CONV_BUCKETS))
    )


class TableIO:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def path(self, table: str) -> str:
        """Table ROOT (manifest home; snapshot dirs live beneath it)."""
        return os.path.join(self.warehouse, table)

    # --- snapshot versioning ------------------------------------------------
    # Every write lands in a NEW immutable snapshot directory (v000000,
    # v000001, ...) and readers are routed through an atomically-switched
    # pointer file, so a DataFrame handle read before an overwrite keeps
    # resolving its own snapshot's files. The previous
    # snapshot is retained (handles stay valid across ONE overwrite — the
    # pipeline's re-run pattern); older snapshots are garbage-collected.

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self.path(table), "_current")

    def _writer_lock(self, table: str):
        """Advisory per-table writer lock (flock): two concurrent writers
        both compute v = current + 1 and would race INTO THE SAME snapshot
        directory — one writer's files clobber the other's mid-write. The
        lock serializes the write/merge critical section per table; readers
        never take it (snapshot isolation already protects them). Iceberg
        provides the same guarantee via atomic metadata-pointer CAS."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def held():
            os.makedirs(self.path(table), exist_ok=True)
            with open(os.path.join(self.path(table), "_writer.lock"), "w") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(f, fcntl.LOCK_UN)

        return held()

    def current_version(self, table: str) -> int | None:
        p = self._pointer_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def expire_snapshots(self, table: str, keep: int = 1) -> None:
        """Drop retained predecessor snapshots beyond ``keep`` (Iceberg's
        ``expire_snapshots``). ``keep=1`` keeps only the current snapshot —
        used after compaction, where the predecessor holds the same rows in
        worse files and retaining it would double the stage's disk."""
        import shutil

        cur = self.current_version(table)
        if cur is None:
            return
        root = self.path(table)
        for name in os.listdir(root):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= cur - keep:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
                try:
                    self.spark.sql(
                        "DROP TABLE IF EXISTS "
                        + self._bucket_table_name(table, int(name[1:]))
                    )
                except Exception:
                    pass

    def data_path(self, table: str, version: int | None = None) -> str:
        v = self.current_version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot yet")
        return os.path.join(self.path(table), f"v{v:06d}")

    # --- bucketed snapshots -------------------------------------------------
    # bucket_spec = {"cols": [...], "n": int, "sort": [...]} clusters the
    # snapshot on the join key at write time (one shuffle, paid once) so
    # every subsequent fold over the re-read table joins/aggregates on that
    # key with ZERO Exchange — the resume path otherwise re-pays those
    # shuffles on every re-run (VERDICT r4 item 2). The write goes
    # through saveAsTable into the snapshot dir and records the spec in
    # _bucketspec.json so a NEW session can re-register the external table
    # (CREATE TABLE ... CLUSTERED BY ... LOCATION) and recover co-location.

    def _bucket_table_name(self, table: str, version: int) -> str:
        from ..functions.hashing import md5_int

        wh = format(md5_int(os.path.abspath(self.warehouse)), "x")[:8]
        return f"kg_bkt_{wh}_{table}_v{version}"

    def _register_bucketed(self, table: str, version: int) -> str | None:
        """Ensure the catalog knows the bucketed snapshot; → table name."""
        import json

        target = self.data_path(table, version)
        spec_path = os.path.join(target, "_bucketspec.json")
        if not os.path.exists(spec_path):
            return None
        with open(spec_path) as f:
            spec = json.load(f)
        name = self._bucket_table_name(table, version)
        if not self.spark.catalog.tableExists(name):
            sort = spec.get("sort") or spec["cols"]
            self.spark.sql(
                f"CREATE TABLE {name} ({spec['schema_ddl']}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(spec['cols'])}) "
                f"SORTED BY ({', '.join(sort)}) "
                f"INTO {spec['n']} BUCKETS LOCATION '{target}'"
            )
        return name

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str] | None = None,
        bucket_spec: dict | None = None,
    ) -> None:
        """Overwrite ``table`` with ``df`` as a new snapshot. There is no
        append: an append would rewrite the previous snapshot's files into
        the new one anyway, so upserts go through ``merge()``."""
        with self._writer_lock(table):
            self._write_locked(df, table, partition_cols, bucket_spec)

    def _write_locked(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str] | None = None,
        bucket_spec: dict | None = None,
    ) -> None:
        """Snapshot write body; caller MUST hold ``_writer_lock(table)``
        (flock is not re-entrant across file handles, so merge() — which
        needs read + anti-join + write as ONE critical section — enters
        here directly under its own single lock acquisition)."""
        import shutil

        root = self.path(table)
        cur = self.current_version(table)
        v = 0 if cur is None else cur + 1
        target = self.data_path(table, v)
        if bucket_spec is not None:
            self._save_bucketed_snapshot(df, table, v, target, bucket_spec)
        else:
            writer = df.write.mode("overwrite")  # target is always fresh
            if partition_cols:
                writer = writer.partitionBy(*partition_cols)
            writer.parquet(target)
        if (partition_cols or bucket_spec) and not data_files(target):
            # a partitionBy/bucketBy write of an EMPTY DataFrame emits
            # _SUCCESS but no data files, which breaks schema inference
            # on read-back; rewrite the empty snapshot unpartitioned (and
            # drop the bucketspec — no co-location claim over zero files)
            df.limit(0).write.mode("overwrite").parquet(target)
            spec_path = os.path.join(target, "_bucketspec.json")
            if os.path.exists(spec_path):
                os.remove(spec_path)
        # atomic pointer switch: the snapshot becomes visible only here
        tmp = self._pointer_path(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer_path(table))
        # GC snapshots older than the previous one (+ registrations)
        for name in os.listdir(root):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < v - 1:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
                try:
                    self.spark.sql(
                        "DROP TABLE IF EXISTS "
                        + self._bucket_table_name(table, int(name[1:]))
                    )
                except Exception:
                    pass

    def _save_bucketed_snapshot(
        self, df: DataFrame, table: str, version: int, target: str, spec: dict
    ) -> None:
        import json

        cols = list(spec["cols"])
        n = int(spec["n"])
        sort = list(spec.get("sort") or cols)
        name = self._bucket_table_name(table, version)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        # pre-cluster into exactly n tasks so the write emits n files, not
        # n_tasks x n (the small-file trade bucketing is known for)
        (
            df.repartition(n, *[F.col(c) for c in cols])
            .write.mode("overwrite")
            .option("path", target)
            .bucketBy(n, *cols)
            .sortBy(*sort)
            .saveAsTable(name)
        )
        with open(os.path.join(target, "_bucketspec.json"), "w") as f:
            json.dump(
                {
                    "cols": cols,
                    "n": n,
                    "sort": sort,
                    "schema_ddl": df.schema.toDDL(),
                },
                f,
            )

    def file_stats(self, table: str) -> dict:
        """Output-file hygiene: total parquet file count/bytes plus file
        counts per first-level partition directory. Small-file explosion is
        the classic 1000-executor failure mode — recording these per stage
        in the manifest makes it observable instead of discovered at read
        time."""
        root = self.data_path(table)  # current snapshot only
        files = data_files(root)
        per_part: dict[str, int] = {}
        for f in files:
            rel = os.path.relpath(os.path.dirname(f), root)
            if rel != ".":
                part = rel.split(os.sep)[0]
                per_part[part] = per_part.get(part, 0) + 1
        return {
            "n_files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files_per_partition": per_part,
        }

    def rows(self, table: str) -> int:
        """Row count of the current snapshot, from its Parquet footers: no
        Spark job, and it equals ``read(table).count()``."""
        return footer_rows(self.data_path(table))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to ``version`` if it is
        still retained (current + one predecessor; Iceberg's
        ``VERSION AS OF`` with a 2-snapshot retention policy)."""
        p = self.data_path(table, version)
        if version is not None and not os.path.isdir(p):
            raise FileNotFoundError(
                f"table {table!r} snapshot v{version} expired (retention: current + 1)"
            )
        v = self.current_version(table) if version is None else version
        bucketed = self._register_bucketed(table, v)
        if bucketed is not None:
            # catalog read: the ONLY way to keep the bucket metadata — a
            # plain parquet read of the same files loses co-location
            return self.spark.table(bucketed)
        return self.spark.read.parquet(p)

    def _merge_pruned_locked(
        self,
        table: str,
        updates: DataFrame,
        key_cols: list[str],
        partition_cols: list[str],
    ) -> bool:
        """Partition-scoped MERGE: rewrite ONLY the partition directories the
        updates touch; every unaffected partition's files are HARDLINKED from
        the previous snapshot into the new one (same inode — no data copy).
        This is the file-reuse semantics of Iceberg's merge-on-read manifest
        rewrite, expressed on the snapshot store: write amplification drops
        from O(table) to O(affected partitions).

        CORRECTNESS PRECONDITION (caller-asserted via prune_partitions=True):
        every partition column must be a pure function of the key columns
        (e.g. conv_bucket = hash(conv_id) % N). Then any existing row whose
        key matches an update necessarily lives in an affected partition, so
        the partition-pruned anti-join equals the global one.

        Returns False when the current snapshot is not laid out by
        ``partition_cols`` (caller falls back to the full rewrite WITHOUT
        releasing the lock — merge() holds one ``_writer_lock`` across the
        attempt and the fallback; only single-level layouts are supported,
        which merge() checks before entering)."""
        import shutil

        src = self.data_path(table)
        part_col = partition_cols[0]
        existing_dirs = [
            d for d in os.listdir(src) if d.startswith(f"{part_col}=")
        ]
        if not existing_dirs:
            return False
        # affected partition values: bounded by the partition-bucket count
        affected = {
            str(r[part_col])
            for r in updates.select(part_col).distinct().collect()
        }
        affected_dirs = {
            d for d in existing_dirs if d.split("=", 1)[1] in affected
        }
        current = self.spark.read.parquet(src)
        kept = current.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        if affected_dirs:
            kept = kept.filter(
                F.col(part_col).isin(
                    [d.split("=", 1)[1] for d in affected_dirs]
                )
            )
        else:
            kept = kept.limit(0)
        # one task per partition value, so each rewritten bucket is ONE
        # file: written as it arrives, a bucket would gain a file per
        # writer task on every merge
        rewritten = _one_file_per_partition(
            kept.unionByName(updates.select(*current.columns)), partition_cols
        )
        root = self.path(table)
        cur_v = self.current_version(table)
        v = cur_v + 1
        target = self.data_path(table, v)
        (
            rewritten.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(target)
        )
        # hardlink every untouched partition dir from the previous snapshot
        for d in existing_dirs:
            if d in affected_dirs or os.path.isdir(os.path.join(target, d)):
                continue
            os.makedirs(os.path.join(target, d), exist_ok=True)
            for fname in os.listdir(os.path.join(src, d)):
                s = os.path.join(src, d, fname)
                t = os.path.join(target, d, fname)
                try:
                    os.link(s, t)
                except OSError:  # cross-device etc. — fall back to copy
                    shutil.copy2(s, t)
        tmp = self._pointer_path(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer_path(table))
        for name in os.listdir(root):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < v - 1:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        return True

    def merge(
        self,
        table: str,
        updates: DataFrame,
        key_cols: list[str],
        partition_cols: list[str] | None = None,
        prune_partitions: bool = False,
    ) -> None:
        """Upsert ``updates`` into ``table`` by key — the MERGE INTO
        (WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT) shape:
        target rows whose key appears in ``updates`` are replaced wholesale,
        other target rows are kept, and new keys are inserted.

        Executed as one left-anti equi-join on the key plus a union into a
        fresh snapshot — the copy-on-write MERGE strategy; reading and
        rewriting the same table is safe under snapshot isolation. A
        multi-row key group in ``updates`` replaces the whole matched group
        (delete-key-then-insert semantics), which is what a re-processed
        conversation needs: stale mention rows for the key cannot survive.

        On a real Iceberg deployment the native ``MERGE INTO`` with
        merge-on-read deletes is the fast path for point updates; this
        copy-on-write form is the right trade for the pipeline's unit of
        work (whole-conversation reprocessing, where most of the partition
        changes anyway).

        ``prune_partitions=True`` (requires ``partition_cols``, each a pure
        function of the key columns — caller's assertion) switches to the
        partition-scoped path: only affected partition dirs are rewritten,
        unaffected ones hardlink into the new snapshot (``_merge_pruned``) —
        the delta-sized write the incremental streaming fold needs.

        The whole merge (existence probe, pruned attempt, read, anti-join,
        write) runs under ONE ``_writer_lock`` acquisition (ADVICE r5): a
        pruned attempt that falls back must not release the lock between
        reading snapshot v and writing v+1, or two concurrent merges can
        both read v and the second write silently drops the first's updates.
        """
        with self._writer_lock(table):
            if not self.exists(table):
                self._write_locked(
                    _one_file_per_partition(updates, partition_cols),
                    table,
                    partition_cols=partition_cols,
                )
                return
            if (
                prune_partitions
                and partition_cols
                and len(partition_cols) == 1
                and self._merge_pruned_locked(
                    table, updates, key_cols, partition_cols
                )
            ):
                return
            current = self.read(table)
            # a bucketed table stays bucketed through MERGE (the spec is
            # re-read from the current snapshot)
            spec = None
            spec_path = os.path.join(self.data_path(table), "_bucketspec.json")
            if os.path.exists(spec_path):
                import json

                with open(spec_path) as f:
                    spec = {
                        k: v
                        for k, v in json.load(f).items()
                        if k != "schema_ddl"
                    }
            kept = current.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            self._write_locked(
                kept.unionByName(updates.select(*current.columns)),
                table,
                partition_cols=partition_cols,
                bucket_spec=spec,
            )

    def exists(self, table: str) -> bool:
        if self.current_version(table) is None:
            return False
        p = self.data_path(table)
        return os.path.exists(os.path.join(p, "_SUCCESS")) or (
            os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p))
        )

