"""Stage 3 — entity linking: blocking join + contrastive-similarity filter,
then canonicalization via connected components.

Linking decides which mention surfaces denote the same entity. Edge sources:

1. **identity blocking** — mentions sharing a normalized surface form
   (textnorm.normalize_surface) are trivially the same node; the node table
   is the distinct set of normalized surfaces.
2. **alias edges** — a curated alias list (small: broadcast join both ways).
   In a production KG this is the gazetteer/alias dimension; skewed hub
   entities on the mention side are handled by AQE skew join + the fact the
   join output is per-distinct-surface, not per-mention.
3. **embedding edges (optional)** — cosine similarity of contrastive span
   embeddings above a threshold (reference metric space M9/M10:
   siamese_nn.py:86-104; on unit vectors logistic-distance similarity is
   monotone in the dot product). Off by default in oracle-verified paths
   because the deterministic hash embedding is engine-internal.

Canonical id = min surface of the connected component (components.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.embed import hash_embedding
from ..functions.hashing import md5_int, spark_md5_int_sql
from ..functions.vocab import TEST_ALIASES
from .components import connected_components


def entity_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct normalized surfaces with per-surface stats (mention counts
    shrink map-side before the shuffle)."""
    return (
        mentions.groupBy("surface_norm")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.array_sort(F.collect_set("type")).alias("types"),
        )
    )


ALIAS_ISIN_LIMIT = 10_000


def alias_edge_pairs_local(
    nodes: DataFrame, aliases: list[tuple[str, str]]
) -> list[tuple[str, str]] | None:
    """Driver-side alias-edge list when the alias vocabulary is bounded
    (one isin-pushdown job; collect size capped by |vocab|), else None."""
    vocab = sorted({s for pair in aliases for s in pair})
    if len(vocab) > ALIAS_ISIN_LIMIT:
        return None
    present = {
        r[0]
        for r in nodes.select("surface_norm")
        .filter(F.col("surface_norm").isin(vocab))
        .collect()
    }
    return [(a, b) for a, b in aliases if a in present and b in present]


def alias_edges(spark: SparkSession, nodes: DataFrame, aliases: list[tuple[str, str]] | None = None) -> DataFrame:
    """Alias pairs restricted to surfaces that actually occur as nodes.

    The alias dimension is curated and small BY CONTRACT, so which endpoints
    occur is a bounded semi-join: filter the (unbounded) surface dictionary
    by the alias vocabulary — an ``isin`` predicate that pushes into the
    scan — and collect at most |vocab| rows driver-side (one job instead of
    two broadcast-subtree builds). Alias lists beyond ALIAS_ISIN_LIMIT
    distinct surfaces fall back to the broadcast-join formulation."""
    aliases = TEST_ALIASES if aliases is None else aliases
    kept = alias_edge_pairs_local(nodes, aliases)
    if kept is not None:
        return spark.createDataFrame(kept, "src string, dst string")
    surf = nodes.select(F.col("surface_norm"))
    alias_df = spark.createDataFrame(aliases, "src string, dst string")
    # broadcast the ALIAS side: the surface dictionary is the unbounded side
    # (10^7+ at corpus scale); the alias list is the small dimension
    endpoint_ok = surf.join(
        F.broadcast(alias_df), surf.surface_norm == alias_df.src, "inner"
    ).select("src", "dst")
    return (
        surf.join(F.broadcast(endpoint_ok), surf.surface_norm == endpoint_ok.dst, "inner")
        .select("src", "dst")
    )


# --- multi-table sign-LSH candidate generation ------------------------------
# Shared by both embedding-edge sources below. The defaults (24 tables of 2
# planes over 64-dim vectors) suit low-threshold recall on dense float
# embeddings; the linking callers pass their own table/plane/dim settings.

DIM = 64
N_TABLES = 24
PLANES_PER_TABLE = 2


def _table_plane_vector(t: int, p: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane component vector in [-1, 1):
    md5-derived per (table, plane, dim) — precomputed driver-side: a plane
    is a CONSTANT, so it belongs in the plan as a literal, not as a per-row
    SQL md5 per dimension."""
    return [((md5_int(f"t{t}p{p}d{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]


def multitable_lsh_buckets(
    emb: DataFrame,
    n_tables: int = N_TABLES,
    n_planes: int = PLANES_PER_TABLE,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id, tbl, bucket): ``n_tables`` independent sign-LSH tables of
    ``n_planes`` hyperplanes each — the multi-probe recall knob for
    candidate generation. All buckets for a vector are computed in ONE pass
    over the embedding column (plane vectors are plan literals), then
    posexploded; the vector itself is NOT carried through the explode, so
    shuffle volume is O(n_tables) longs per vector, not O(n_tables × dim)."""
    planes_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(repr(x) for x in _table_plane_vector(t, p, dim)) + ")"
            for t in range(n_tables)
            for p in range(n_planes)
        )
        + ")"
    )
    buckets = F.expr(
        f"""
        transform(sequence(0, {n_tables - 1}), t ->
          aggregate(sequence(0, {n_planes - 1}), 0L, (acc, p) ->
            acc + IF(
              aggregate(zip_with(v, element_at({planes_lit}, t * {n_planes} + p + 1),
                                 (x, y) -> x * y), 0D, (s, z) -> s + z) >= 0,
              shiftleft(1L, p), 0L)))
        """
    )
    return emb.select(
        "vec_id", F.posexplode(buckets).alias("tbl", "bucket")
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    n_tables: int = N_TABLES,
    n_planes: int = PLANES_PER_TABLE,
    dim: int = DIM,
    probe_bits: int = 0,
) -> DataFrame:
    """(vec_a, vec_b) distinct candidate pairs sharing a bucket in ANY table
    — pure equi-join on (tbl, bucket); no quadratic stage.

    ``probe_bits=1`` enables multi-probe: one side additionally probes every
    bucket at Hamming distance 1 (flip each of the ``n_planes`` sign bits),
    so a true pair survives a table when AT MOST ONE plane disagrees —
    recall per table rises from p^k to p^k + k·p^(k-1)(1-p) at the cost of
    (k+1)× probe rows on one join side. This is the standard recall knob
    that lets k stay LARGE (small, well-separated buckets — the only regime
    that scales) without paying for it in missed pairs."""
    bk = multitable_lsh_buckets(emb, n_tables, n_planes, dim)
    if probe_bits == 0:
        probed = bk
    elif probe_bits == 1:
        flips = ",".join(f"bucket ^ {1 << i}L" for i in range(n_planes))
        probed = bk.select(
            "vec_id",
            "tbl",
            F.explode(F.expr(f"array(bucket, {flips})")).alias("bucket"),
        )
    else:
        raise ValueError("probe_bits must be 0 or 1")
    x = probed.alias("x")
    y = bk.alias("y")
    return (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )


def embedding_edges(
    nodes: DataFrame,
    threshold: float = 0.9,
    dim: int = 16,
    method: str = "lsh",
    n_tables: int = 8,
    n_planes: int = 4,
) -> DataFrame:
    """Optional near-duplicate-surface edges by deterministic hash-embedding
    cosine (stand-in for the trained contrastive encoder, M9/M10).

    ``method="lsh"`` (default, the 100×-shaped path): candidates from
    multi-table sign-LSH over the surface embeddings (equi-join on (table,
    bucket), lsh_candidate_pairs) + exact dot re-rank. At the
    linking threshold (0.9 → per-plane collision prob ≈ 0.86) 4 planes × 8
    tables give miss probability ≈ 3e-6 per true pair — recall 1.0 is
    property-tested against the all-pairs form (tests/test_linking_embedding.py).

    ``method="exact"``: the all-pairs baseline, kept for tests."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(surfaces: pd.Series) -> pd.Series:
        return surfaces.map(lambda s: hash_embedding(s, dim).tolist())

    emb = nodes.select("surface_norm", embed(F.col("surface_norm")).alias("vec"))
    left = emb.select(F.col("surface_norm").alias("src"), F.col("vec").alias("va"))
    right = emb.select(F.col("surface_norm").alias("dst"), F.col("vec").alias("vb"))
    if method == "exact":
        pairs = left.join(right, F.col("src") < F.col("dst"))
    elif method == "lsh":
        cand = lsh_candidate_pairs(
            emb.select(F.col("surface_norm").alias("vec_id"), F.col("vec").alias("v")),
            n_tables=n_tables,
            n_planes=n_planes,
            dim=dim,
        ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        pairs = cand.join(left, "src").join(right, "dst")
    else:
        raise ValueError(f"unknown method {method!r}")
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    return (
        pairs.withColumn("cos", dot)
        .filter(F.col("cos") >= F.lit(threshold))
        .select("src", "dst")
    )


BIGRAM_DIM = 32
BIGRAM_DF_CAP = 1000
BIGRAM_THRESHOLD = 0.72
# LSH-candidate knobs for the dictionary-scale path, chosen empirically on
# a 10k-surface corpus at dim=128 (the dim the scale path runs at — see
# the candidates="lsh" docstring): 16 tables × 12 planes over CENTERED
# vectors with 1-bit multi-probe → measured recall 0.974 of all true
# pairs at candidate volume ≈6% of all-pairs. Fewer planes push volume
# toward quadratic (4 planes = 16 buckets ≈ n²/16 per table); more planes
# without probing push recall below 0.9.
BIGRAM_LSH_TABLES = 16
BIGRAM_LSH_PLANES = 12
BIGRAM_LSH_DIM = 128
# candidates="auto" cutover: below this many distinct surfaces the df-cap
# bigram blocking is complete-in-practice (few bigrams exceed df_cap=1000)
# and stays DuckDB-replayable; above it most bigrams blow any workable cap
# and silent drops become the norm (VERDICT r4 item 4), so sign-LSH takes
# over. 100k ≈ where a 1000-df-cap covers <50% of bigram mass on natural
# surface-form distributions.
BIGRAM_LSH_AUTO_NODES = 100_000


def bigram_embedding_edges(
    nodes: DataFrame,
    threshold: float = BIGRAM_THRESHOLD,
    dim: int | None = None,
    df_cap: int = BIGRAM_DF_CAP,
    candidates: str = "bigram",
) -> DataFrame:
    """Contrastive-linking edges from a PORTABLE surface embedding: the
    hashed character-bigram count vector (dim buckets, '^'/'$' padded), with
    cosine similarity over exact integer dot products. This is the
    oracle-verifiable stand-in for the trained contrastive encoder (M9/M10,
    siamese_nn.py:86-104): same geometry (unit-sphere cosine = monotone in
    the Siamese Euclidean metric), but every arithmetic step is replayable
    in DuckDB — bigram buckets come from the shared md5 hash, counts are
    integers, and the only floating-point op is one division by one sqrt,
    so the threshold compare is bit-identical across engines.

    Candidate generation (``candidates=``):

    ``"bigram"`` (default, the oracle-verified path): shared-EXACT-bigram
    blocking (equi-join on the bigram, distinct-pair), with a
    document-frequency cap on hot bigrams — the same df-cap discipline as
    the n-gram Jaccard dedup operator. The recall contract is explicit: a
    pair whose every shared bigram exceeds ``df_cap`` is not a candidate
    (at 100 TB hot bigrams like 'e ' would otherwise fan out
    quadratically); at the linking threshold a qualifying pair shares
    several bigrams, so a rare one almost surely survives the cap — BUT at
    a 10^7-surface dictionary most bigrams blow any workable cap, and
    every qualifying pair whose shared bigrams are ALL hot is silently
    dropped (VERDICT r4 item 4).

    ``"lsh"`` (the dictionary-scale path): multi-table sign-LSH candidates
    (lsh_candidate_pairs — a pure (table, bucket) equi-join,
    fan-out bounded by bucket population, no per-bigram hot key), followed
    by the IDENTICAL exact integer dot re-rank. Two adaptations make
    sign-LSH actually work on bigram count vectors: (a) the vectors are
    CENTERED before hashing (exact integer per-dimension sums → one
    broadcast mean; raw count vectors live in the positive orthant where
    every sign hash agrees and buckets collapse), and (b) one-bit
    multi-probe keeps recall high at 12 planes per table (small buckets —
    the only regime that scales). Run this path at ``dim=BIGRAM_LSH_DIM``
    (128): at dim=32 the bucketed vectors are so coarse that ~96% of
    0.72-cosine "pairs" are bucket-collision artifacts and NO candidate
    scheme is subquadratic; at dim=128 measured recall is 0.974 at ≈6% of
    all-pairs candidate volume (tests/test_linking_embedding.py). Not the
    oracle default only because DuckDB would have to replay 192 hyperplane
    dot products per surface.

    ``"auto"``: pick by dictionary size — ``"bigram"`` up to
    BIGRAM_LSH_AUTO_NODES distinct surfaces (complete-in-practice df-cap
    blocking, oracle-replayable), ``"lsh"`` above it (the scale where hot
    bigrams blow any cap). The probe is ``limit(AUTO_NODES + 1).count()``
    — it needs only "more than the threshold or not", so the scan
    early-exits at the limit; still one Spark action, so a caller with an
    UNCACHED node lineage pays one (bounded) evaluation of the upstream
    plan — in the staged pipeline the nodes table is persisted and this
    is cheap (ADVICE r6).

    ``dim=None`` (default) resolves per path: BIGRAM_DIM (32, the
    oracle-replayable size) for ``"bigram"``, BIGRAM_LSH_DIM (128, where
    the 16x12 LSH knobs were calibrated) for ``"lsh"``. An explicit
    ``dim < BIGRAM_LSH_DIM`` on the lsh path warns (ADVICE r5): at dim=32
    ~96% of threshold pairs are bucket-collision artifacts, so no
    candidate scheme is subquadratic there and silence would hide it.

    Everything is JVM-side builtin expressions — no Python UDF."""
    if candidates == "auto":
        probe = nodes.limit(BIGRAM_LSH_AUTO_NODES + 1).count()
        candidates = "lsh" if probe > BIGRAM_LSH_AUTO_NODES else "bigram"
    if dim is None:
        dim = BIGRAM_LSH_DIM if candidates == "lsh" else BIGRAM_DIM
    elif candidates == "lsh" and dim < BIGRAM_LSH_DIM:
        import warnings

        warnings.warn(
            f"bigram_embedding_edges(candidates='lsh') with dim={dim} < "
            f"BIGRAM_LSH_DIM={BIGRAM_LSH_DIM}: the 16x12 sign-LSH knobs are "
            "calibrated at 128 dims; coarser vectors make threshold pairs "
            "mostly bucket-collision artifacts (near-quadratic candidates "
            "or bad recall). Pass dim=None to get the calibrated default.",
            stacklevel=2,
        )
    md5b = spark_md5_int_sql("b")
    base = nodes.select(
        "surface_norm",
        F.expr(
            "transform(sequence(1, length(concat('^', surface_norm, '$')) - 1),"
            " j -> substring(concat('^', surface_norm, '$'), j, 2))"
        ).alias("bgs"),
    )
    # bucketed count vector: one md5 per bigram occurrence, then dim counts
    vecs = (
        base.select(
            "surface_norm",
            F.expr(f"transform(bgs, b -> {md5b} % {dim})").alias("ks"),
        )
        .select(
            "surface_norm",
            F.expr(
                f"transform(sequence(0, {dim - 1}),"
                " i -> CAST(size(filter(ks, k -> k = i)) AS BIGINT))"
            ).alias("vec"),
        )
        .withColumn(
            "n2", F.expr("aggregate(vec, 0L, (a, x) -> a + x * x)")
        )
    )
    if candidates == "bigram":
        # blocking: distinct bigrams, df-capped, self equi-join
        bgd = base.select(
            "surface_norm", F.explode(F.array_distinct("bgs")).alias("b")
        )
        dfc = bgd.groupBy("b").agg(F.count(F.lit(1)).alias("df"))
        bgd_ok = bgd.join(dfc.filter(F.col("df") <= df_cap), "b")
        x, y = bgd_ok.alias("x"), bgd_ok.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.b") == F.col("y.b"))
                & (F.col("x.surface_norm") < F.col("y.surface_norm")),
            )
            .select(
                F.col("x.surface_norm").alias("src"),
                F.col("y.surface_norm").alias("dst"),
            )
            .distinct()
        )
    elif candidates == "lsh":
        # center before sign-hashing: per-dimension means from EXACT integer
        # sums (one single-row aggregate, a bounded scalar collect), so the
        # centered vectors — and every downstream sign — are deterministic
        sums = vecs.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at("vec", i + 1)).alias(f"_s{i}")
                for i in range(dim)
            ],
        ).collect()[0]
        n_rows = max(int(sums["_n"]), 1)
        mean_lit = (
            "array("
            + ",".join(repr(int(sums[f"_s{i}"] or 0) / n_rows) for i in range(dim))
            + ")"
        )
        centered = vecs.select(
            F.col("surface_norm").alias("vec_id"),
            F.expr(
                f"zip_with(vec, {mean_lit}, (x, m) -> CAST(x AS DOUBLE) - m)"
            ).alias("v"),
        )
        cand = lsh_candidate_pairs(
            centered,
            n_tables=BIGRAM_LSH_TABLES,
            n_planes=BIGRAM_LSH_PLANES,
            dim=dim,
            probe_bits=1,
        ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    else:
        raise ValueError(f"unknown candidates source {candidates!r}")
    va = vecs.select(
        F.col("surface_norm").alias("src"),
        F.col("vec").alias("va"),
        F.col("n2").alias("na2"),
    )
    vb = vecs.select(
        F.col("surface_norm").alias("dst"),
        F.col("vec").alias("vb"),
        F.col("n2").alias("nb2"),
    )
    dot = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    return (
        cand.join(va, "src")
        .join(vb, "dst")
        .withColumn(
            "cos",
            F.expr(f"CAST({dot} AS DOUBLE) / sqrt(CAST(na2 * nb2 AS DOUBLE))"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
        .select("src", "dst")
    )


def canonicalize_nodes(
    spark: SparkSession,
    nodes: DataFrame,
    aliases: list[tuple[str, str]] | None = None,
    use_embedding_edges: bool = False,
    embedding_threshold: float | None = None,
    embedding_method: str = "lsh",
    bigram_candidates: str = "bigram",
) -> tuple[DataFrame, DataFrame]:
    """→ (entities, edges) from a NODE-stats table (surface_norm,
    n_mentions, types) — the dictionary-level half of ``canonicalize``.
    Exposed separately so the incremental streaming fold can re-canonicalize
    merged per-surface stats (dictionary-sized) without touching the
    corpus-sized mention table (streaming/incremental.py)."""
    aliases_eff = TEST_ALIASES if aliases is None else aliases
    local_pairs = alias_edge_pairs_local(nodes, aliases_eff)
    if local_pairs is not None:
        edges = spark.createDataFrame(
            local_pairs, "src string, dst string"
        ).withColumn("kind", F.lit("alias"))
    else:
        edges = alias_edges(spark, nodes, aliases_eff).withColumn(
            "kind", F.lit("alias")
        )
    if use_embedding_edges:
        # the two embedding spaces have different natural operating points:
        # the hash embedding's logistic-calibrated 0.9 vs the bigram count
        # vector's 0.72 (BIGRAM_THRESHOLD, the point where 'spark table' ↔
        # 'fast table' style paraphrases link but unrelated surfaces don't)
        if embedding_method == "bigram":
            thr = BIGRAM_THRESHOLD if embedding_threshold is None else embedding_threshold
            # bigram_candidates="lsh" switches to the dictionary-scale
            # sign-LSH candidate source (same exact integer re-rank)
            emb = bigram_embedding_edges(
                nodes, threshold=thr, candidates=bigram_candidates
            )
        else:
            thr = 0.9 if embedding_threshold is None else embedding_threshold
            emb = embedding_edges(nodes, thr, method=embedding_method)
        edges = edges.unionByName(emb.withColumn("kind", F.lit("embedding")))

    if local_pairs is not None and not use_embedding_edges:
        # the edge list is already driver-side and bounded: run union-find
        # directly (same labels as connected_components' small-graph path)
        # instead of spinning up persist/count/collect jobs over a 3-row DF
        from .components import _union_find_local

        labels_map = _union_find_local(
            [(a, b) for a, b in local_pairs if a != b]
        )
        comp = (
            spark.createDataFrame(
                sorted(labels_map.items()), "node string, component string"
            )
            if labels_map
            else spark.createDataFrame([], "node string, component string")
        )
    else:
        comp = connected_components(edges.select("src", "dst"))
    entities = (
        nodes.join(comp.withColumnRenamed("node", "surface_norm"), on="surface_norm", how="left")
        .withColumn("canonical_id", F.coalesce(F.col("component"), F.col("surface_norm")))
        .drop("component")
        # dictionary encoding: a deterministic 60-bit integer id per
        # canonical entity. The predicate/triple stages run on these 8-byte
        # ids instead of surface strings — at scale the string form exists
        # only in this dictionary and in final presentation views (measured:
        # the string path made triple materialization allocation/GC-bound
        # and anti-scale on 32 cores)
        .withColumn(
            "entity_id", F.expr(spark_md5_int_sql("coalesce(canonical_id, surface_norm)"))
        )
    )
    return entities, edges


def canonicalize(
    spark: SparkSession,
    mentions: DataFrame,
    aliases: list[tuple[str, str]] | None = None,
    use_embedding_edges: bool = False,
    embedding_threshold: float | None = None,
    embedding_method: str = "lsh",
    bigram_candidates: str = "bigram",
    persist_registry: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (entities, edges, mentions_with_canonical_id).

    entities: (canonical_id, surface_norm, n_mentions, types)
    edges:    (src, dst, kind)

    ``persist_registry``: every DataFrame this call persists is appended, so
    the caller can ``unpersist()`` them when the linked lineage is no longer
    needed (callers composing many canonicalize() lineages in one session
    would otherwise accumulate cached copies of the expensive mention scan).
    """
    # the mention stage is the expensive pandas-UDF scan; it is referenced by
    # nodes, edges, AND the final linked join — persist so downstream actions
    # compute it once (the staged pipeline gets the same effect from its
    # table writes; this covers direct composition)
    mentions = mentions.persist()
    nodes = entity_nodes(mentions).persist()
    if persist_registry is not None:
        persist_registry.extend([mentions, nodes])
    # eagerly materialize once: the alias-edge build broadcasts two
    # projections of `nodes` concurrently, and with a cold cache both
    # broadcast subtrees race to recompute the full mention scan
    nodes.count()
    entities, edges = canonicalize_nodes(
        spark,
        nodes,
        aliases=aliases,
        use_embedding_edges=use_embedding_edges,
        embedding_threshold=embedding_threshold,
        embedding_method=embedding_method,
        bigram_candidates=bigram_candidates,
    )
    # no explicit broadcast: the entity dictionary is small here but can be
    # 10^7+ rows at corpus scale — AQE broadcasts it when it fits and falls
    # back to a shuffled join when it doesn't
    linked = (
        mentions.join(
            entities.select("surface_norm", "canonical_id", "entity_id"),
            on="surface_norm",
            how="left",
        )
        .withColumn("canonical_id", F.coalesce(F.col("canonical_id"), F.col("surface_norm")))
        .withColumn(
            "entity_id",
            F.coalesce(F.col("entity_id"), F.expr(spark_md5_int_sql("surface_norm"))),
        )
    )
    return entities, edges, linked
