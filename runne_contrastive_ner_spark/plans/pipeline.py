"""The staged KG-construction pipeline (SURVEY.md §3.4).

    transcripts ─▶ mentions ─▶ entities/edges (linking + CC) ─▶ triples
                                                      └▶ analytics (optional)

Four stages always run — ``mentions``, ``entities``, ``edges`` and
``triples`` — and ``PipelineConfig(analytics=True)`` adds a fifth,
``analytics``: one per-entity table of PageRank, triangle count, community
and core number over the triples' co-occurrence graph.

Each stage writes its output table through TableIO before the next starts —
the write IS the checkpoint; ``StageRunner`` skips stages whose manifest
fingerprint (inputs + params) matches, giving resumable batch execution with
per-partition lineage, per the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vocab import ENTITY_TYPES, TEST_ALIASES, TEST_GAZETTEER
from ..operators.linking import canonicalize
from ..operators.mentions import extract_mentions
from ..operators.predicates import induce_predicates
from ..sources.tables import CONV_BUCKETS, TableIO, with_conv_bucket
from .manifest import StageRunner, fingerprint


@dataclass
class PipelineConfig:
    warehouse: str
    window_k: int = 2
    gazetteer: dict[str, str] = field(default_factory=lambda: dict(TEST_GAZETTEER))
    aliases: list[tuple[str, str]] = field(default_factory=lambda: list(TEST_ALIASES))
    entity_types: list[str] = field(default_factory=lambda: list(ENTITY_TYPES))
    use_embedding_edges: bool = False
    # knobs for the embedding-edge leg (only read when use_embedding_edges):
    # embedding_method "lsh" = hash-embedding + LSH; "bigram" = the
    # oracle-replayable bigram count-vector cosine. bigram_candidates picks
    # that path's candidate source: "bigram" (df-cap blocking), "lsh"
    # (dictionary-scale sign-LSH), or "auto" (DEFAULT — sign-LSH above
    # BIGRAM_LSH_AUTO_NODES distinct surfaces, so a production run does not
    # silently take the silent-drop df-cap path at 10^7-surface dictionaries;
    # VERDICT r5 item 4).
    embedding_method: str = "lsh"
    embedding_threshold: float | None = None
    bigram_candidates: str = "auto"
    salt_partitions: int | None = None
    # mentions + entities are hash-clustered into this many buckets on
    # surface_norm at write time (TableIO bucket_spec), so the post-resume
    # entity/triple folds join the re-read tables with ZERO surface_norm
    # Exchange — the shuffle is paid once at write instead of on every
    # re-run (VERDICT r4 item 2). bucketBy and partitionBy dirs do not
    # combine in one catalog table, so mentions keeps conv_bucket as a plain
    # COLUMN; triples is partitioned by it (sources.tables.CONV_BUCKETS
    # conversation buckets, the same layout the tail fold merges into).
    link_buckets: int = 16
    # optional 5th stage: per-entity graph analytics (PageRank, triangles,
    # community, core number) over the triple table, with its own manifest
    analytics: bool = False
    pagerank_iterations: int = 3


# label-propagation rounds of the analytics ``community`` column: one
# constant shared by the build and its stage fingerprint
ANALYTICS_LP_ITERATIONS = 4


def fold_analytics(
    pr: DataFrame, tri: DataFrame, comm: DataFrame, core: DataFrame
) -> DataFrame:
    """The analytics row per entity from the four graph operators' outputs:
    a left join on the node id. Every node has a PageRank row; nodes in no
    triangle get 0 triangles, and a missing community or core falls back to
    the node itself and 0."""
    return (
        pr.join(tri, "src", "left")
        .join(comm, "src", "left")
        .join(core, "src", "left")
        .select(
            F.col("src").alias("entity_id"),
            "pr_q",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("community", F.col("src")).alias("community"),
            F.coalesce("core", F.lit(0)).cast("long").alias("core"),
        )
    )


def _build_analytics(
    triples: DataFrame, pagerank_iterations: int, edges: DataFrame | None = None
) -> tuple[DataFrame, str]:
    """The analytics table and the fingerprint of the edge list it derives
    from. The co-occurrence edges are derived once (or taken from
    ``edges``). A graph of at most ``graph.SMALL_GRAPH_EDGES`` edges is
    collected once, with each edge's hash for the fingerprint, and the four
    driver kernels the operators use on such graphs run over that one list.
    A larger graph is checkpointed and folded from the four operators, each
    of which takes its distributed path."""
    from ..operators import graph
    from ..streaming.incremental import edges_fingerprint, edges_fingerprint_of

    if edges is None:
        edges = graph.cooccurrence_edges(triples)
    limit = graph.SMALL_GRAPH_EDGES
    rows = (
        edges.select("src", "dst", F.xxhash64("src", "dst"))
        .limit(limit + 1)
        .collect()
    )
    if len(rows) > limit:
        edges = edges.localCheckpoint(eager=True)
        table = fold_analytics(
            graph.pagerank(edges, iterations=pagerank_iterations),
            graph.triangle_counts(edges),
            graph.label_propagation(edges, iterations=ANALYTICS_LP_ITERATIONS),
            graph.k_core_numbers(edges),
        )
        return table, edges_fingerprint(edges)
    pairs = [(r[0], r[1]) for r in rows]
    pr = graph._pagerank_local(
        pairs, pagerank_iterations, damping_pct=85, scale=graph.SCALE
    )
    tri = graph._triangles_local(pairs)
    comm = graph._label_prop_local(pairs, ANALYTICS_LP_ITERATIONS)
    core = graph._kcore_local(pairs)
    id_type = graph._id_type(edges)
    table = edges.sparkSession.createDataFrame(
        [(n, pr[n], tri.get(n, 0), comm.get(n, n), core.get(n, 0)) for n in sorted(pr)],
        f"entity_id {id_type}, pr_q long, n_triangles long, "
        f"community {id_type}, core long",
    )
    return table, edges_fingerprint_of([r[2] for r in rows])


def analytics_table(triples: DataFrame, pagerank_iterations: int = 3) -> DataFrame:
    """One analytics row per entity of the co-occurrence graph: PageRank
    centrality, triangle count, label-propagation community and core
    number. The same build the pipeline's ``analytics`` stage writes."""
    return _build_analytics(triples, pagerank_iterations)[0]


@dataclass
class PipelineResult:
    mentions: DataFrame
    entities: DataFrame
    edges: DataFrame
    triples: DataFrame
    metrics: dict
    analytics: DataFrame | None = None


def run_analytics_stages(
    runner,
    triples: DataFrame,
    fp_seed: str,
    pagerank_iterations: int = 3,
    buckets: int = 16,
    edges: DataFrame | None = None,
    triples_snapshot: int | None = None,
) -> DataFrame:
    """The ``analytics`` stage: ``analytics_table`` over ``triples``,
    bucketed on ``entity_id``. ``fp_seed`` keys the stage fingerprint: the
    batch pipeline seeds it with its config lineage (link fingerprint +
    window_k), ``refresh_analytics`` with the edge-set fingerprint. Pass an
    already derived ``edges`` list to skip deriving it again.

    Every build records what ``refresh_analytics`` later trusts as its
    freshness proof: the fingerprint of the edge list it derived
    (``edges_fp``), the triples snapshot version ``triples_snapshot`` the
    caller pinned BEFORE reading the triples (re-reading the live pointer
    here could stamp a concurrent merge's version onto content derived from
    the older snapshot), and the two hyperparameters."""
    extra: dict = {}

    def build() -> DataFrame:
        table, edges_fp = _build_analytics(triples, pagerank_iterations, edges)
        extra.update(
            edges_fp=edges_fp,
            triples_snapshot=triples_snapshot,
            pagerank_iterations=pagerank_iterations,
            buckets=buckets,
        )
        return table

    return runner.run(
        "analytics",
        fingerprint(
            "analytics-v5",
            fp_seed,
            pagerank_iterations,
            ANALYTICS_LP_ITERATIONS,
            buckets,
        ),
        build,
        lineage_key="entity_id",
        bucket_spec={"cols": ["entity_id"], "n": buckets, "sort": ["entity_id"]},
        extra=extra,
    )


def link_fingerprint(cfg: PipelineConfig, base_fp: str) -> str:
    """Fingerprint of the linking stage. Embedding knobs enter ONLY when
    the embedding leg is on, and then as an EXTRA element (ADVICE r6):
    with the leg off the arg list is byte-identical to the PRE-EMBEDDING
    releases, so warehouses from those releases keep their fingerprints on
    upgrade; only embedding-enabled warehouses take the invalidation the
    knobs genuinely imply. Known exception, accepted: a non-embedding
    warehouse built by the one intermediate release whose OFF-shape
    carried a literal ``None`` element recomputes once when upgraded to
    this shape — restoring the long-term stable contract costs that
    cohort a single recompute (safe: content is re-derived, never
    wrong)."""
    link_args: list = [
        "link",
        base_fp,
        sorted(cfg.aliases),
        cfg.use_embedding_edges,
    ]
    if cfg.use_embedding_edges:
        link_args.append(
            (
                cfg.embedding_method,
                cfg.embedding_threshold,
                cfg.bigram_candidates,
            )
        )
    link_args.append(cfg.link_buckets)
    return fingerprint(*link_args)


def stage_fingerprints(cfg: PipelineConfig, input_fp: str) -> dict[str, str]:
    """Resume fingerprints of the ``mentions`` stage, the ``link`` stages
    (``entities`` and ``edges``) and the ``triples`` stage. The argument
    lists still carry the two bucket counts, so a default-layout warehouse
    built before those counts became constants resumes without a rebuild."""
    base_fp = fingerprint(input_fp, sorted(cfg.gazetteer.items()), cfg.entity_types)
    link_fp = link_fingerprint(cfg, base_fp)
    return {
        "mentions": fingerprint(
            "mentions", base_fp, cfg.salt_partitions, CONV_BUCKETS, cfg.link_buckets
        ),
        "link": link_fp,
        "triples": fingerprint("triples", link_fp, cfg.window_k, CONV_BUCKETS),
    }


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig, input_fp: str
) -> PipelineResult:
    io = TableIO(spark, cfg.warehouse)
    runner = StageRunner(io)
    fps = stage_fingerprints(cfg, input_fp)
    link_spec = {"cols": ["surface_norm"], "n": cfg.link_buckets}
    # NOTE: the scorer is not a fingerprint component because run_pipeline
    # pins the GazetteerScorer (extract_mentions' default). If a
    # scorer_factory / model path is ever added to PipelineConfig, its
    # identity INCLUDING numeric width (float32 vs float64 flips near-tie
    # decodes) must join this fingerprint, or resumed warehouses will
    # serve stale mentions under a matching fingerprint.
    mentions = runner.run(
        "mentions",
        fps["mentions"],
        lambda: with_conv_bucket(
            extract_mentions(
                transcripts,
                gazetteer=cfg.gazetteer,
                entity_types=cfg.entity_types,
                salt_partitions=cfg.salt_partitions,
            )
        ),
        lineage_key="conv_id",
        bucket_spec=link_spec,
    )

    link_fp = fps["link"]
    # linking + CC produce two tables from one computation; build once, stage twice
    state: dict[str, DataFrame] = {}

    def _canonicalize():
        return canonicalize(
            spark,
            mentions,
            aliases=cfg.aliases,
            use_embedding_edges=cfg.use_embedding_edges,
            embedding_threshold=cfg.embedding_threshold,
            embedding_method=cfg.embedding_method,
            bigram_candidates=cfg.bigram_candidates,
        )

    def build_linked():
        entities, edges, linked = _canonicalize()
        state["edges"] = edges
        state["linked"] = linked
        return entities

    entities = runner.run(
        "entities",
        link_fp,
        build_linked,
        lineage_key="canonical_id",
        bucket_spec=link_spec,
    )
    edges = runner.run(
        "edges",
        link_fp,
        lambda: state["edges"] if "edges" in state else _canonicalize()[1],
    )

    def build_triples():
        if "linked" in state:
            linked = state["linked"]
        else:
            linked = mentions.join(
                entities.select("surface_norm", "canonical_id", "entity_id"),
                on="surface_norm",
                how="left",
            ).withColumn(
                "canonical_id", F.coalesce(F.col("canonical_id"), F.col("surface_norm"))
            )
        # triples are materialized in normalized form — integer entity ids
        # against the `entities` dictionary; the (subj, pred, obj) string
        # view is a broadcast join away and exists for presentation only
        return induce_predicates(linked, k=cfg.window_k, entity_col="entity_id")

    triples = runner.run(
        "triples",
        fps["triples"],
        lambda: with_conv_bucket(build_triples()),
        partition_cols=["conv_bucket"],
        lineage_key="conv_id",
    )

    analytics = None
    if cfg.analytics:
        analytics = run_analytics_stages(
            runner,
            triples,
            fp_seed=fingerprint(link_fp, cfg.window_k),
            pagerank_iterations=cfg.pagerank_iterations,
            buckets=cfg.link_buckets,
            # pinned BEFORE the analytics builds: the triples stage just
            # ran (or skipped) in this process, so the pointer read here
            # names the snapshot the `triples` handle actually reads
            triples_snapshot=io.current_version("triples"),
        )
        # clear the staleness marker a previous incremental fold left
        # behind only when the analytics manifest proves freshness against
        # the current triples snapshot: a build always does, a skip after
        # an out-of-band merge does not, and leaves the marker (and the
        # STALE warning) for refresh_analytics to clear
        from ..streaming.incremental import clear_analytics_stale

        recorded = runner.metrics["analytics"].extra.get("triples_snapshot")
        if recorded is not None and recorded == io.current_version("triples"):
            clear_analytics_stale(cfg.warehouse)

    metrics = {s: vars(m) for s, m in runner.metrics.items()}
    return PipelineResult(mentions, entities, edges, triples, metrics, analytics)
