"""spark-submit entry point for the KG-construction pipeline.

Usage (the deployment shape the north rule specifies):

    zip -r /tmp/engine.zip runne_contrastive_ner_spark
    spark-submit --py-files /tmp/engine.zip jobs/run_kg_pipeline.py \
        --sf-dir /root/testdata/sf0.001 --warehouse /tmp/kg_wh [--replicate N]

On a cluster the same command takes --master/--num-executors; the job code
is identical (the engine never branches on deployment mode). Prints one
JSON line of stage metrics; re-running resumes from stage manifests.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from runne_contrastive_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
from runne_contrastive_ner_spark.sources.transcripts import from_documents


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--window-k", type=int, default=2)
    ap.add_argument(
        "--analytics",
        action="store_true",
        help="materialize the graph-analytics stage (PageRank centrality + triangle counts + label-propagation community per entity)",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the run, rewrite the triples table to one file per "
        "conv_bucket partition (Iceberg rewrite_data_files equivalent); "
        "resume fingerprints are preserved",
    )
    ap.add_argument(
        "--export-ntriples",
        metavar="PATH",
        default=None,
        help="after the run, export the distinct (subj, pred, obj) triple "
        "set as W3C N-Triples text at PATH (sources/rdf.py) for loading "
        "into any RDF store; with --analytics the per-entity analytics "
        "facts (pagerank, triangles, community, core) are exported into "
        "the same file set as typed-literal / IRI attribute triples",
    )
    args = ap.parse_args()

    # spark-submit owns master/executor settings; only job-level SQL conf here
    spark = (
        SparkSession.builder.appName("kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    transcripts = from_documents(spark, args.sf_dir)
    if args.replicate > 1:
        transcripts = (
            transcripts.repartition(spark.sparkContext.defaultParallelism * 2)
            .select(
                F.explode(F.expr(f"sequence(0, {args.replicate - 1})")).alias("rep"), "*"
            )
            .withColumn(
                "conv_id", F.concat_ws("-", "conv_id", F.col("rep").cast("string"))
            )
            .drop("rep")
        )

    cfg = PipelineConfig(
        warehouse=args.warehouse, window_k=args.window_k, analytics=args.analytics
    )
    result = run_pipeline(
        spark, transcripts, cfg, input_fp=f"{args.sf_dir}|x{args.replicate}"
    )
    out = {"stages": result.metrics}
    if args.compact:
        from runne_contrastive_ner_spark.plans.manifest import compact_stage
        from runne_contrastive_ner_spark.sources.tables import TableIO

        io = TableIO(spark, cfg.warehouse)
        # mentions and entities are bucketed on surface_norm, so their
        # file count is bounded at write; triples is the one partitioned table
        out["compacted"] = {
            "triples": compact_stage(io, "triples", partition_col="conv_bucket").files
        }
    if args.export_ntriples:
        from runne_contrastive_ner_spark.sources.rdf import kg_export, write_ntriples

        write_ntriples(
            kg_export(result.triples, result.analytics), args.export_ntriples
        )
        out["ntriples_path"] = args.export_ntriples
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
