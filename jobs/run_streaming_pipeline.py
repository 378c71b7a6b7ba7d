"""Streaming KG deployment surface: file-source Structured Streaming ingest.

``spark-submit --py-files engine.zip jobs/run_streaming_pipeline.py
--transcripts-dir DIR --warehouse WH`` tails a transcripts parquet
directory with ``readStream`` (``availableNow`` trigger: drain everything
currently present, then stop — the restartable batch-of-streams shape),
runs mention detection per micro-batch through the SAME
``extract_mentions`` operator the batch pipeline uses (foreachBatch with
batch_id-keyed overwrite → effectively-once output), then folds the
accumulated mentions into entities + triples with the batch operators.

Restart semantics: the stream checkpoint remembers which input FILES were
consumed, so a re-run with no new files processes zero batches and only
re-derives the (cheap relative to scoring) link/triple fold; dropping new
parquet files into the directory and re-running processes exactly the new
files. This is the production tail-ingest loop: the expensive stage is
incremental, the graph fold is a deterministic function of the
accumulated mention set.

Crash safety (ADVICE r5, high): the fold delta is computed against a
PERSISTED fold manifest (``_fold_manifest.json``, written atomically
AFTER the triples merge lands), never against what this process observed
before the stream ran. If a prior run crashed after the stream
checkpoint committed batches but before the fold finished, those batch
dirs are absent from the manifest, so the restart folds them — nothing
is permanently skipped. A warehouse with entities/triples but no (or
stale-subset) manifest refolds every batch — a warehouse built by the
batch pipeline among them. Over-folding is safe: the fold RECOUNTS the
entity stats over all accumulated mentions instead of adding a batch's
counts onto the stored ones, and the triple MERGE replaces whole
conversations, so a batch folded twice leaves the tables as once.
Under-folding is not safe. The fold writes ``entities`` and ``triples``
with the batch pipeline's schema and layout, so either entry point can
continue a warehouse the other built.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def run_streaming(
    spark: SparkSession,
    transcripts_dir: str,
    warehouse: str,
    analytics: bool = False,
    pagerank_iterations: int = 3,
    analytics_buckets: int = 16,
) -> dict:
    """Ingest the files of ``transcripts_dir`` the stream has not seen and
    fold them into the ``entities`` and ``triples`` tables of ``warehouse``.

    Returns the fold stats plus the stored rows of the stream mentions and
    of both tables. Those counts are summed from Parquet footers on the
    driver, so they run no Spark job. A call with nothing new to fold reads
    no table: its only job is the stream's schema probe of
    ``transcripts_dir``."""
    from runne_contrastive_ner_spark.sources.tables import TableIO, footer_rows
    from runne_contrastive_ner_spark.streaming.incremental import (
        incremental_kg_fold,
        refresh_analytics,
        streaming_mentions,
    )

    mentions_dir = os.path.join(warehouse, "stream_mentions")
    checkpoint_dir = os.path.join(warehouse, "_stream_checkpoint")

    fold_manifest = os.path.join(warehouse, "_fold_manifest.json")

    def batch_dirs() -> set[str]:
        if not os.path.isdir(mentions_dir):
            return set()
        return {d for d in os.listdir(mentions_dir) if d.startswith("batch=")}

    def folded_dirs() -> set[str]:
        """Batch dirs the last COMPLETED fold incorporated (crash-safe
        skip baseline — NOT what this process observed before the stream
        ran: a crash between stream checkpoint and fold completion must
        leave those batches in the next run's delta)."""
        try:
            with open(fold_manifest) as fh:
                return set(json.load(fh)["folded_batches"])
        except (OSError, ValueError, KeyError):
            return set()

    def write_manifest(dirs: set[str]) -> None:
        tmp = fold_manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"folded_batches": sorted(dirs)}, fh)
        os.replace(tmp, fold_manifest)  # atomic: never a torn manifest

    q = streaming_mentions(spark, transcripts_dir, mentions_dir, checkpoint_dir)
    q.awaitTermination()
    after = batch_dirs()
    if not after:
        return {"mentions": 0, "entities": 0, "triples": 0,
                "batches": 0, "new_batches": 0}

    io = TableIO(spark, warehouse)
    folded = folded_dirs()
    new_dirs = sorted(after - folded)
    if not new_dirs and io.exists("entities") and io.exists("triples"):
        # restart with zero unfolded batches: the fold is already a function
        # of the accumulated mention set — nothing to do
        fold_stats = {"delta_convs": 0, "changed_surfaces": 0,
                      "incremental": True}
    else:
        # the session caches leaf-file listings per path (InMemoryFileIndex):
        # without the refresh, a second run in the same session folds only
        # the batches that existed at first read and silently drops the new
        # ones
        spark.catalog.refreshByPath(mentions_dir)
        mentions = spark.read.parquet(mentions_dir).drop("batch_id")
        if folded and new_dirs and folded <= after:
            new_mentions = spark.read.parquet(
                *[os.path.join(mentions_dir, d) for d in new_dirs]
            ).drop("batch_id")
        else:
            # first run, lost manifest, or manifest referencing dirs that no
            # longer exist: refold everything (deterministic + idempotent)
            new_mentions = mentions
        # delta-sized fold: entity-stat merge + dictionary re-CC + per-
        # conversation triple MERGE confined to conversations the new
        # batches (or canonical-id changes) touched
        fold_stats = incremental_kg_fold(spark, io, mentions, new_mentions)
        write_manifest(after)  # only after the triples merge landed
    out = {
        "mentions": footer_rows(mentions_dir),
        "entities": io.rows("entities"),
        "triples": io.rows("triples"),
        "batches": len(after),
        "new_batches": len(new_dirs),
        **fold_stats,
    }
    if analytics:
        # exact freshness keyed on the edge-set fingerprint: a tail that
        # did not change the co-occurrence graph skips the rebuild. The
        # hyperparameters MUST match the pipeline config that built the
        # warehouse (same flags as run_kg_pipeline) or a rebuild silently
        # changes what the centrality scores mean.
        a_stats = refresh_analytics(
            spark,
            io,
            pagerank_iterations=pagerank_iterations,
            buckets=analytics_buckets,
        )
        out["analytics_rebuilt"] = a_stats.get("rebuilt", [])
        out["analytics_rows"] = a_stats.get("rows")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--transcripts-dir", required=True,
                    help="parquet directory to tail (readStream file source)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument(
        "--analytics",
        action="store_true",
        help="after the fold, refresh the materialized analytics table "
        "(skips entirely when the co-occurrence graph is unchanged)",
    )
    ap.add_argument(
        "--pagerank-iterations",
        type=int,
        default=3,
        help="must match the batch pipeline config that built the warehouse",
    )
    ap.add_argument(
        "--analytics-buckets",
        type=int,
        default=16,
        help="bucket count of the analytics table (match the batch "
        "pipeline's link_buckets)",
    )
    args = ap.parse_args()

    from runne_contrastive_ner_spark.session import build_session

    spark = build_session(app_name="kg-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    stats = run_streaming(
        spark,
        args.transcripts_dir,
        args.warehouse,
        analytics=args.analytics,
        pagerank_iterations=args.pagerank_iterations,
        analytics_buckets=args.analytics_buckets,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
