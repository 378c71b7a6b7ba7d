"""Transcript sources.

The engine's input contract (BASELINE.json input_hint) is a table
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` with stable turn ordering per conversation.

Two deterministic constructions, no external data:

* ``from_documents`` — derives transcripts from the driver-provided
  ``documents`` parquet with pure arithmetic on ``doc_id`` so the DuckDB
  oracle can derive the *identical* table in SQL (see
  ``DUCKDB_TRANSCRIPTS_SQL``). Per-turn text equality holds trivially:
  turn text IS the document text.
* ``synthesize`` — fully synthetic templated conversations (punctuation,
  quotes, accents, nested/adjacent entity surfaces, one deliberately long
  skew conversation) for pytest; generated distributedly via
  ``spark.range`` + builtin functions, no driver-side materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONV_BUCKETS = 40
EPOCH = "2025-01-01 00:00:00"

# the SAME derivation, in DuckDB SQL, parameterized by nothing; used by
# the DuckDB oracles (oracle_sql.py) so both systems read one source of truth
DUCKDB_TRANSCRIPTS_SQL = f"""
SELECT
  'conv-' || lpad(CAST(doc_id % {CONV_BUCKETS} AS VARCHAR), 4, '0') AS conv_id,
  CAST(doc_id // {CONV_BUCKETS} AS INTEGER)                         AS turn_idx,
  CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
  text                                                              AS text,
  CASE WHEN doc_id % 3 = 2 THEN 'search' ELSE '' END                AS tool,
  TIMESTAMP '{EPOCH}' + doc_id * INTERVAL 1 MINUTE                  AS ts
FROM documents
"""


def from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(
            F.lit("conv-"),
            F.lpad((F.col("doc_id") % CONV_BUCKETS).cast("string"), 4, "0"),
        ).alias("conv_id"),
        (F.col("doc_id") / CONV_BUCKETS).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 2, F.lit("search")).otherwise(F.lit("")).alias("tool"),
        F.expr(f"timestamp'{EPOCH}' + make_interval(0, 0, 0, 0, 0, doc_id, 0)").alias("ts"),
    )


_TEMPLATES = [
    "The customer asked about spark and the fast table near the window.",
    "We ran a batch over big data; the merge finished. Dr. Smith approved it.",
    "key said: «spark table merge» and left the window open.",
    "Nothing relevant here at all.",
    "spark spark table — adjacent entities test, plus café naïve accents.",
    "Is the vector ready? The customer thinks so! big data wins again.",
    "",
    "   ",
]


def synthesize(
    spark: SparkSession,
    n_convs: int = 20,
    turns_per_conv: int = 10,
    long_conv_turns: int = 200,
) -> DataFrame:
    """Deterministic synthetic transcripts; conversation 0 is the long skew
    case. Built with spark.range so generation itself scales."""
    n_templates = len(_TEMPLATES)
    base = spark.range(n_convs * turns_per_conv).select(
        (F.col("id") / turns_per_conv).cast("int").alias("conv_no"),
        (F.col("id") % turns_per_conv).cast("int").alias("turn_idx"),
        F.col("id"),
    )
    skew = spark.range(long_conv_turns).select(
        F.lit(n_convs).cast("int").alias("conv_no"),
        F.col("id").cast("int").alias("turn_idx"),
        (F.col("id") + n_convs * turns_per_conv).alias("id"),
    )
    both = base.unionByName(skew)
    template_arr = F.array(*[F.lit(t) for t in _TEMPLATES])
    return both.select(
        F.concat(F.lit("sconv-"), F.lpad(F.col("conv_no").cast("string"), 4, "0")).alias("conv_id"),
        F.col("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.element_at(template_arr, (F.col("id") % n_templates + 1).cast("int")).alias("text"),
        F.when(F.col("id") % 3 == 2, F.lit("grep")).otherwise(F.lit("")).alias("tool"),
        F.expr(f"timestamp'{EPOCH}' + make_interval(0, 0, 0, 0, 0, id, 0)").alias("ts"),
    )
