"""Per-stage manifests: lineage + metrics + checkpointed resume.

Each pipeline stage writes its output table and, on success, a manifest JSON
next to it recording (a) a fingerprint of the stage inputs + parameters,
(b) per-partition row counts (lineage granularity), (c) wall time. A re-run
skips any stage whose manifest fingerprint matches — that IS the resume
mechanism demanded by the north rule (stage outputs are the checkpoints;
partial stage outputs without a manifest are ignored and overwritten).

Snapshot isolation: TableIO writes every overwrite into a
fresh immutable snapshot directory behind an atomically-switched pointer
(tables.py), mirroring Iceberg's semantics — a DataFrame handle read before a
re-run keeps resolving its own snapshot's files across one overwrite, and
rewriting a table while reading it (compaction) is safe by construction.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int

MANIFEST_NAME = "_manifest.json"


@dataclass
class StageManifest:
    stage: str
    fingerprint: str
    # rows of the snapshot this manifest describes (``extra["snapshot"]``),
    # summed from its Parquet footers by TableIO.rows, not counted by a job
    rows: int
    partition_rows: dict[str, int] = field(default_factory=dict)
    wall_sec: float = 0.0
    extra: dict = field(default_factory=dict)
    # output-file hygiene (TableIO.file_stats): n_files, bytes,
    # files_per_partition — bounded-small-file evidence per stage
    files: dict = field(default_factory=dict)


def fingerprint(*parts: object) -> str:
    return format(md5_int("|".join(repr(p) for p in parts)), "x")


def manifest_path(table_path: str) -> str:
    return os.path.join(table_path, MANIFEST_NAME)


def load_manifest(table_path: str) -> StageManifest | None:
    p = manifest_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return StageManifest(**json.load(f))


def write_manifest(table_path: str, manifest: StageManifest) -> None:
    # atomic (tmp + rename): the manifest may be REWRITTEN over a valid
    # predecessor (refresh_analytics advances the recorded snapshot in
    # place) — a torn write would permanently break both stage resume and
    # the freshness tiers, with nothing to rebuild it
    os.makedirs(table_path, exist_ok=True)
    p = manifest_path(table_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(manifest), f, indent=1, sort_keys=True)
    os.replace(tmp, p)


def partition_lineage(df: DataFrame, key_col: str | None) -> dict[str, int]:
    """Row counts per logical partition key (bounded: top 1000 keys)."""
    if key_col is None or key_col not in df.columns:
        return {}
    rows = (
        df.groupBy(key_col).count().orderBy(F.desc("count"), key_col).limit(1000).collect()
    )
    return {str(r[0]): r[1] for r in rows}


class StageRunner:
    """Runs stages with skip-on-matching-manifest semantics."""

    def __init__(self, io, verbose: bool = True):
        self.io = io
        self.verbose = verbose
        self.metrics: dict[str, StageManifest] = {}

    def run(
        self,
        stage: str,
        fp: str,
        build: "callable[[], DataFrame]",
        partition_cols: list[str] | None = None,
        lineage_key: str | None = None,
        bucket_spec: dict | None = None,
        extra: dict | None = None,
    ) -> DataFrame:
        """``extra``: additional key/values recorded in the manifest when
        the stage BUILDS (ignored on skip — the existing manifest already
        carries its build-time values). May be a mutable dict the build
        callable populates: it is read only after ``build()`` returns.

        A stage skips only when its manifest matches ``fp`` AND still
        describes the table's current snapshot: a write that bypassed the
        runner (a tail fold rewriting ``entities``/``triples``) leaves the
        manifest naming an older snapshot, and the stage rebuilds."""
        path = self.io.path(stage)
        existing = load_manifest(path)
        if (
            existing is not None
            and existing.fingerprint == fp
            and self.io.exists(stage)
            and existing.extra.get("snapshot") == self.io.current_version(stage)
        ):
            if self.verbose:
                print(f"[resume] stage {stage}: manifest matches, skipping")
            self.metrics[stage] = existing
            return self.io.read(stage)
        t0 = time.time()
        df = build()
        self.io.write(df, stage, partition_cols=partition_cols, bucket_spec=bucket_spec)
        out = self.io.read(stage)
        mf = StageManifest(
            stage=stage,
            fingerprint=fp,
            rows=self.io.rows(stage),
            partition_rows=partition_lineage(out, lineage_key),
            wall_sec=round(time.time() - t0, 3),
            files=self.io.file_stats(stage),
            extra={
                # lineage: which snapshot this manifest describes
                "snapshot": self.io.current_version(stage),
                **(extra or {}),
            },
        )
        write_manifest(path, mf)
        self.metrics[stage] = mf
        if self.verbose:
            print(f"[stage] {stage}: rows={mf.rows} wall={mf.wall_sec}s")
        return out


def compact_stage(
    io,
    stage: str,
    partition_col: str | None = None,
    shuffle_parts: int | None = None,
) -> StageManifest:
    """Small-file compaction for a written stage — the Iceberg
    ``rewrite_data_files`` / ``OPTIMIZE`` equivalent for TableIO's
    snapshot store. A 1000-executor writer legitimately produces
    tasks×buckets files; readers want few large files. This rewrites the
    table with one file per partition value (repartition BY the partition
    column routes each value to exactly one task) and refreshes the
    manifest's file stats while PRESERVING its fingerprint — content is
    unchanged, so resume semantics are untouched.

    Reading and rewriting the same table is safe under TableIO's snapshot
    isolation: the read plan resolves the current snapshot's files while the
    rewrite lands in a new snapshot directory, visible only at the atomic
    pointer switch (exactly Iceberg's ``rewrite_data_files`` behavior).
    """
    mf = load_manifest(io.path(stage))
    if mf is None:
        raise ValueError(f"stage {stage!r} has no manifest to compact")
    if mf.extra.get("compacted"):
        # idempotent: an already-compacted stage (and a resume-skipped one —
        # recomputation rewrites the manifest and clears the flag) is a
        # no-op, not a second full-table rewrite
        return mf
    if os.path.exists(os.path.join(io.data_path(stage), "_bucketspec.json")):
        # a bucketed snapshot already has exactly n_buckets files AND carries
        # co-location metadata a plain rewrite would destroy — leave it
        return mf
    df = io.read(stage)
    if partition_col is not None:
        n = shuffle_parts or df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(n, F.col(partition_col))
        io.write(df, stage, partition_cols=[partition_col])
    else:
        df = df.coalesce(1 if shuffle_parts is None else shuffle_parts)
        io.write(df, stage)
    # the predecessor snapshot holds the same rows in worse files — expire
    # it so compaction actually reclaims the disk it promises to
    io.expire_snapshots(stage, keep=1)
    mf.files = io.file_stats(stage)
    mf.extra = {
        **mf.extra,
        "compacted": True,
        "snapshot": io.current_version(stage),
    }
    write_manifest(io.path(stage), mf)
    return mf
