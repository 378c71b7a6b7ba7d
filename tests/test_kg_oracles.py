"""The KG outputs against their independent DuckDB formulations.

Every entry of ``oracle_sql.KG`` and ``oracle_sql.TRAINSET`` has a Spark
builder here, composed from the engine's operators over one shared build
of the sf0.01 corpus (mentions → canonicalize → induce_predicates). Each
builder's rows must equal its oracle's: same column names, same rows as a
multiset, floats compared at 6 decimal places.

The ``kg_*`` plans also carry the scale tripwires: no quadratic join stage
(BroadcastNestedLoopJoin / CartesianProduct) and, where set, a ceiling on
the number of shuffles. They are checked on the distributed graph plans,
not the driver-local fast path the small corpus would take.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import re
from types import SimpleNamespace

import duckdb
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from runne_contrastive_ner_spark import oracle_sql as OSQL
from runne_contrastive_ner_spark.functions.hashing import spark_md5_int_sql
from runne_contrastive_ner_spark.functions.vocab import EVAL_GOLD_GAZETTEER
from runne_contrastive_ner_spark.operators import graph
from runne_contrastive_ner_spark.operators import trainset as tr
from runne_contrastive_ner_spark.operators.components import connected_components
from runne_contrastive_ner_spark.operators.linking import (
    canonicalize,
    lsh_candidate_pairs,
)
from runne_contrastive_ner_spark.operators.mentions import extract_mentions
from runne_contrastive_ner_spark.operators.predicates import (
    conversation_summaries,
    induce_predicates,
    induce_role_predicates,
)
from runne_contrastive_ner_spark.sources.transcripts import from_documents

SF = "/root/testdata/sf0.01"
ORACLE_TABLES = ("documents", "embeddings")
ORACLES = {**OSQL.KG, **OSQL.TRAINSET}

# Shuffle ceilings on the distributed plans (shuffle_count below), about
# 25 % above the counts measured on sf0.01 (in order: 1, 6, 7, 3, 5, 9, 1,
# 3). They exist to catch an order-of-magnitude lineage leak, not to freeze
# the exact plan: kg_edge_lift references its conversation-entity set 4x,
# and without the localCheckpoint every reference would recompute the
# mention lineage.
EXCHANGE_BOUNDS = {
    "kg_mentions": 2,
    "kg_triples": 8,
    "kg_pagerank": 9,
    "kg_edge_lift": 4,
    "kg_verb_predicates": 7,
    "kg_communities": 12,
    "kg_triangles": 2,
    "kg_entities_embedding": 4,
}


@pytest.fixture(scope="module")
def kg(spark):
    if not os.path.exists(f"{SF}/documents.parquet"):
        pytest.skip(f"{SF} test corpus unavailable")
    turns = from_documents(spark, SF)
    mentions = extract_mentions(turns).persist()
    registry: list[DataFrame] = [mentions]
    entities, edges, linked = canonicalize(spark, mentions, persist_registry=registry)
    linked = linked.persist()
    registry.append(linked)
    triples = induce_predicates(linked, k=2, persist_registry=registry)
    yield SimpleNamespace(
        spark=spark,
        turns=turns,
        mentions=mentions,
        entities=entities,
        edges=edges,
        linked=linked,
        triples=triples,
        registry=registry,
        small_graph_edges=graph.SMALL_GRAPH_EDGES,
    )
    for df in registry:
        df.unpersist()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


# --- Spark-side builders ----------------------------------------------------


def _entity_columns(entities: DataFrame) -> DataFrame:
    return entities.select(
        "canonical_id",
        "surface_norm",
        F.col("n_mentions").cast("bigint").alias("n_mentions"),
        F.concat_ws(",", "types").alias("types"),
    )


def kg_mentions(kg) -> DataFrame:
    return kg.mentions


def kg_entities(kg) -> DataFrame:
    return _entity_columns(kg.entities)


def kg_edges(kg) -> DataFrame:
    return kg.edges


def kg_triples(kg) -> DataFrame:
    return kg.triples


def kg_role_triples(kg) -> DataFrame:
    """User-turn entity `elicits` assistant-reply entity."""
    return induce_role_predicates(kg.linked, kg.turns)


def kg_entities_embedding(kg) -> DataFrame:
    """canonicalize with alias edges ∪ bigram-hash embedding edges — the
    portable surface embedding whose arithmetic DuckDB replays."""
    entities, _, _ = canonicalize(
        kg.spark,
        kg.mentions,
        use_embedding_edges=True,
        embedding_method="bigram",
        persist_registry=kg.registry,
    )
    return _entity_columns(entities)


def kg_two_hop(kg) -> DataFrame:
    """Per entity, distinct 1-hop and 2-hop-only neighbor counts over the
    undirected co-occurrence graph."""
    nbrs = graph.cooccurrence_edges(kg.triples).select(
        F.col("src").alias("subj"), F.col("dst").alias("obj")
    )
    one_hop = nbrs.groupBy("subj").agg(
        F.countDistinct("obj").cast("bigint").alias("n_one_hop")
    )
    # a degree-d middle node emits d^2 rows through the two-hop self-join,
    # so super-hub middles are left out of the expansion; the oracle caps
    # the same node
    max_degree = 10_000
    expandable = one_hop.filter(F.col("n_one_hop") <= max_degree).select("subj")
    mid = nbrs.join(expandable, "subj")
    a = nbrs.alias("a")
    b = mid.alias("b")
    two = (
        a.join(b, F.col("a.obj") == F.col("b.subj"))
        .select(F.col("a.subj").alias("subj"), F.col("b.obj").alias("two_obj"))
        .filter(F.col("subj") != F.col("two_obj"))
        # two-hop-only reach: direct neighbors excluded
        .join(
            nbrs.select(
                F.col("subj").alias("subj"), F.col("obj").alias("two_obj")
            ).withColumn("direct", F.lit(1)),
            ["subj", "two_obj"],
            "left",
        )
        .filter(F.col("direct").isNull())
        .groupBy("subj")
        .agg(F.countDistinct("two_obj").cast("bigint").alias("n_two_hop_only"))
    )
    return one_hop.join(two, "subj", "left").select(
        F.col("subj").alias("canonical_id"),
        "n_one_hop",
        F.coalesce("n_two_hop_only", F.lit(0)).cast("bigint").alias("n_two_hop_only"),
    )


def kg_pagerank(kg) -> DataFrame:
    nbrs = graph.cooccurrence_edges(kg.triples)
    out = graph.pagerank(nbrs, iterations=3, small_graph_edges=kg.small_graph_edges)
    return out.select(F.col("src").alias("canonical_id"), "pr_q")


def kg_triangles(kg) -> DataFrame:
    nbrs = graph.cooccurrence_edges(kg.triples)
    out = graph.triangle_counts(nbrs, small_graph_edges=kg.small_graph_edges)
    return out.select(F.col("src").alias("canonical_id"), "n_triangles")


def kg_communities(kg) -> DataFrame:
    nbrs = graph.cooccurrence_edges(kg.triples)
    out = graph.label_propagation(nbrs, 4, small_graph_edges=kg.small_graph_edges)
    return out.select(F.col("src").alias("canonical_id"), "community")


def kg_edge_lift(kg) -> DataFrame:
    """Conversation-level co-occurrence lift per entity pair in integer
    parts-per-million: ((c_ab * 1e6) DIV c_a) * n DIV c_b."""
    # referenced 4x below: checkpointed so the plan does not replay the
    # mention lineage per reference
    conv_ents = (
        kg.linked.select("conv_id", "canonical_id").distinct().localCheckpoint(eager=True)
    )
    n = conv_ents.select("conv_id").distinct().count()
    counts = conv_ents.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a, b = conv_ents.alias("a"), conv_ents.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.canonical_id") < F.col("b.canonical_id")),
        )
        .groupBy(
            F.col("a.canonical_id").alias("subj"),
            F.col("b.canonical_id").alias("obj"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_convs_both"))
    )
    return (
        pairs.join(counts.withColumnRenamed("canonical_id", "subj"), "subj")
        .withColumnRenamed("c", "c_subj")
        .join(counts.withColumnRenamed("canonical_id", "obj"), "obj")
        .withColumnRenamed("c", "c_obj")
        .select(
            "subj",
            "obj",
            "n_convs_both",
            F.expr(f"((n_convs_both * 1000000L) DIV c_subj) * {n}L DIV c_obj").alias(
                "lift_ppm"
            ),
        )
    )


def kg_verb_predicates(kg) -> DataFrame:
    """For each same-turn ordered mention pair at most 40 chars apart, the
    first alphabetic token between the two mentions becomes the predicate."""
    t = kg.turns.select("conv_id", "turn_idx", "text")
    m = kg.linked.select("conv_id", "turn_idx", "canonical_id", "start", "end")
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.turn_idx") == F.col("b.turn_idx"))
            & (F.col("a.end") <= F.col("b.start"))
            & (F.col("a.canonical_id") != F.col("b.canonical_id")),
        )
        .select(
            F.col("a.conv_id").alias("conv_id"),
            F.col("a.turn_idx").alias("turn_idx"),
            F.col("a.canonical_id").alias("subj"),
            F.col("b.canonical_id").alias("obj"),
            F.col("a.end").alias("gap_start"),
            F.col("b.start").alias("gap_end"),
        )
        .filter(F.col("gap_end") - F.col("gap_start") <= 40)
    )
    return (
        pairs.join(t, ["conv_id", "turn_idx"])
        .withColumn(
            "bridge", F.expr("substring(text, gap_start + 1, gap_end - gap_start)")
        )
        .withColumn("pred", F.lower(F.regexp_extract("bridge", "[A-Za-z]+", 0)))
        .filter(F.col("pred") != "")
        .select(
            "conv_id", "subj", "pred", "obj", F.col("turn_idx").alias("src_turn_idx")
        )
        .distinct()
    )


def kg_degree_histogram(kg) -> DataFrame:
    """Entity counts per power-of-two degree bucket; the bucket is the
    integer-exact floor(log2) length(bin(degree)) - 1."""
    deg = (
        graph.cooccurrence_edges(kg.triples)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.withColumn("bucket", F.expr("CAST(length(bin(degree)) - 1 AS BIGINT)"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def kg_entity_lifespans(kg) -> DataFrame:
    """Per entity: first/last observation (epoch seconds), active span, and
    distinct conversation/turn reach."""
    t = kg.turns.select("conv_id", "turn_idx", "ts")
    return (
        kg.linked.join(t, ["conv_id", "turn_idx"])
        .groupBy("canonical_id")
        .agg(
            F.unix_timestamp(F.min("ts")).cast("long").alias("first_seen"),
            F.unix_timestamp(F.max("ts")).cast("long").alias("last_seen"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long")
            .alias("active_sec"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.countDistinct("conv_id", "turn_idx").cast("long").alias("n_turns"),
        )
    )


def kg_type_freqs(kg) -> DataFrame:
    return kg.mentions.groupBy("type").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))


def kg_embedding_components(kg) -> DataFrame:
    """Connected components over the embedding-cosine graph (cos >= 0.3):
    LSH candidates + exact cosine re-rank, then CC. Node ids are
    zero-padded so the lexicographic minimum is the numeric one."""
    emb = kg.spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    dot = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    na = "sqrt(aggregate(zip_with(va, va, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    nb = "sqrt(aggregate(zip_with(vb, vb, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    edges = (
        lsh_candidate_pairs(emb)
        .join(a, "vec_a")
        .join(b, "vec_b")
        .filter(F.expr(f"({dot}) / (({na}) * ({nb}))") >= 0.3)
        .select(
            F.lpad(F.col("vec_a").cast("string"), 8, "0").alias("src"),
            F.lpad(F.col("vec_b").cast("string"), 8, "0").alias("dst"),
        )
    )
    comp = connected_components(edges)
    nodes = emb.select(F.lpad(F.col("vec_id").cast("string"), 8, "0").alias("node"))
    return nodes.join(comp, on="node", how="left").select(
        F.col("node").cast("bigint").alias("vec_id"),
        F.coalesce("component", "node").cast("bigint").alias("component"),
    )


def _per_type_eval(pred: DataFrame, gold: DataFrame, keys: list[str]) -> DataFrame:
    """tp/fp/fn and precision/recall per type from a full outer join of a
    prediction set and a gold set on ``keys``."""
    joined = pred.withColumn("p", F.lit(1)).join(
        gold.withColumn("g", F.lit(1)), keys, "full_outer"
    )
    def rows_where(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    p, g = F.col("p").isNotNull(), F.col("g").isNotNull()
    return joined.groupBy("type").agg(
        rows_where(p & g).alias("tp"),
        rows_where(p & ~g).alias("fp"),
        rows_where(~p & g).alias("fn"),
    ).select(
        "type",
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6).alias(
            "precision"
        ),
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6).alias(
            "recall"
        ),
    )


def kg_mention_eval(kg) -> DataFrame:
    """Span-level precision/recall of the mentions against the gold
    gazetteer's, on exact (conv, turn, type, start, end)."""
    keys = ["conv_id", "turn_idx", "type", "start", "end"]
    gold = extract_mentions(kg.turns, gazetteer=EVAL_GOLD_GAZETTEER)
    return _per_type_eval(kg.mentions.select(*keys), gold.select(*keys), keys)


def kg_mention_eval_macro(kg) -> DataFrame:
    """Unweighted mean over entity types of the span-level P/R/F1."""
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return (
        kg_mention_eval(kg)
        .withColumn("f1", f1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(F.avg("precision"), 6).alias("macro_precision"),
            F.round(F.avg("recall"), 6).alias("macro_recall"),
            F.round(F.avg("f1"), 6).alias("macro_f1"),
        )
    )


def _subtokens(t: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, b0, b1): the engine tokenizer's subtoken char
    bounds on single-spaced text (space-split words with running offsets,
    fixed 4-char pieces), as the oracle's subtok_ctes derives them."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("widx")
    return (
        t.select(
            "conv_id", "turn_idx", F.posexplode(F.split("text", " ")).alias("widx", "w")
        )
        .withColumn("st", (F.sum(F.length("w") + 1).over(w) - F.length("w") - 1).cast("int"))
        .filter(F.col("w") != "")
        .select(
            "conv_id",
            "turn_idx",
            "w",
            "st",
            F.explode(F.expr("sequence(0, CAST(ceil(length(w) / 4.0) AS INT) - 1)")).alias(
                "k"
            ),
        )
        .select(
            "conv_id",
            "turn_idx",
            (F.col("st") + F.col("k") * 4).alias("b0"),
            (
                F.col("st") + F.col("k") * 4 + F.least(F.lit(4), F.length("w") - F.col("k") * 4)
            ).alias("b1"),
        )
    )


def kg_mention_eval_token(kg) -> DataFrame:
    """Token-level precision/recall per type: a subtoken counts as
    predicted (gold) when a predicted (gold) mention of that type covers it."""
    subs = _subtokens(kg.turns)

    def coverage(mentions: DataFrame) -> DataFrame:
        m = mentions.select("conv_id", "turn_idx", "type", "start", "end")
        return (
            subs.join(m, ["conv_id", "turn_idx"])
            .filter((F.col("b0") >= F.col("start")) & (F.col("b1") <= F.col("end")))
            .select("conv_id", "turn_idx", "type", "b0")
            .distinct()
        )

    gold = extract_mentions(kg.turns, gazetteer=EVAL_GOLD_GAZETTEER)
    return _per_type_eval(
        coverage(kg.mentions), coverage(gold), ["conv_id", "turn_idx", "type", "b0"]
    )


def kg_conv_summaries(kg) -> DataFrame:
    return conversation_summaries(kg.linked)


def kg_entity_degrees(kg) -> DataFrame:
    """The spark.sql surface: each entity's co-occurrence degree and mention
    count, in SQL over temp views of the KG outputs."""
    kg.triples.createOrReplaceTempView("v_triples")
    kg.linked.createOrReplaceTempView("v_mentions")
    return kg.spark.sql(
        """
        WITH neighbors AS (
          SELECT subj AS ent, obj AS nbr FROM v_triples WHERE pred = 'co_occurs_with'
          UNION
          SELECT obj, subj FROM v_triples WHERE pred = 'co_occurs_with'
        ),
        degree AS (
          SELECT ent, CAST(count(DISTINCT nbr) AS BIGINT) AS degree FROM neighbors GROUP BY ent
        ),
        mention_counts AS (
          SELECT canonical_id AS ent, CAST(count(*) AS BIGINT) AS n_mentions
          FROM v_mentions GROUP BY canonical_id
        )
        SELECT d.ent AS canonical_id, d.degree, m.n_mentions
        FROM degree d JOIN mention_counts m ON m.ent = d.ent
        """
    )


def tr_span_inventory(kg) -> DataFrame:
    return tr.span_inventory(kg.mentions)


def tr_siamese_pairs(kg) -> DataFrame:
    return tr.siamese_pair_sample(kg.mentions)


def tr_max_seq_len(kg) -> DataFrame:
    return tr.max_seq_len_agg(kg.turns)


def _gold_docs(kg) -> DataFrame:
    """Turns with the engine's mentions as gold spans, keyed by the portable
    md5-derived id the oracle can compute too."""
    ners = kg.mentions.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(F.struct("type", "start", "end")).alias("ners")
    )
    return kg.turns.join(ners, ["conv_id", "turn_idx"], "left").select(
        F.expr(spark_md5_int_sql("concat(conv_id, ':', cast(turn_idx as string))")).alias(
            "id"
        ),
        F.col("text"),
        F.coalesce("ners", F.array()).alias("ners"),
    )


def _csv(c: str):
    return F.array_join(F.expr(f"transform({c}, x -> cast(x as string))"), ",")


def tr_ner_trainset(kg) -> DataFrame:
    """NER tensor rows with the array columns as strings: space-joined
    pieces, csv token ids, '|'-joined csv class planes."""
    out = tr.build_ner_trainset(_gold_docs(kg))
    return out.select(
        "id",
        "sent_idx",
        "chunk_idx",
        F.array_join("pieces", " ").alias("pieces_str"),
        _csv("token_ids").alias("token_ids_str"),
        F.array_join(
            F.expr(
                "transform(labels, l -> array_join(transform(l, x -> cast(x as string)), ','))"
            ),
            "|",
        ).alias("labels_str"),
    )


def tr_siamese_tensors(kg) -> DataFrame:
    out = tr.build_siamese_trainset(_gold_docs(kg), per_type=10)
    cols = ("left_ids", "left_mask", "right_ids", "right_mask")
    return out.select(*(_csv(c).alias(f"{c}_str") for c in cols), "label")


BUILDERS = {
    name: fn
    for name, fn in globals().items()
    if name.startswith(("kg_", "tr_")) and callable(fn)
}


# --- comparison -------------------------------------------------------------


def normalize(rows, cols):
    """Rows as tuples in sorted column order, floats rounded to 6 places
    (-0.0 as 0.0, NaN as a string), the list sorted."""
    out = []
    for row in rows:
        vals = dict(zip(cols, row))
        norm = []
        for c in sorted(cols):
            v = vals[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
                    v = 0.0 if v == 0 else v
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple)):
                v = tuple(v)
            norm.append(v)
        out.append(tuple(norm))
    out.sort(key=repr)
    return out


def plan_of(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(df: DataFrame) -> int:
    """Shuffles needed to compute the query from its sources: Exchange nodes
    of its initial physical plan and of the plans behind the cached inputs
    it scans, each cached plan counted once however often it is scanned."""
    seen: set[int] = set()
    identity = df.sparkSession._jvm.System.identityHashCode

    def initial(plan):
        return plan.initialPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan

    def walk(node) -> int:
        n = int(node.nodeName() == "Exchange")
        if node.nodeName() == "InMemoryTableScan":
            cache = node.relation().cacheBuilder()
            if identity(cache) not in seen:
                seen.add(identity(cache))
                n += walk(initial(cache.cachedPlan()))
        kids = node.children()
        return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(initial(df._jdf.queryExecution().executedPlan()))


def test_every_oracle_has_a_builder():
    assert sorted(BUILDERS) == sorted(ORACLES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_engine_matches_oracle(kg, duck, name):
    df = BUILDERS[name](kg)
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    res = duck.execute(ORACLES[name])
    d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert s_rows, "an empty result checks nothing"
    ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
    if ns != nd:
        only_spark = sorted(set(ns) - set(nd), key=repr)[:3]
        only_duck = sorted(set(nd) - set(ns), key=repr)[:3]
        pytest.fail(
            f"{len(ns)} engine rows vs {len(nd)} oracle rows; "
            f"engine-only: {only_spark}; oracle-only: {only_duck}"
        )


@pytest.mark.parametrize("name", sorted(n for n in ORACLES if n.startswith("kg_")))
def test_plan_tripwires(kg, name):
    # small_graph_edges=0: the distributed graph plans, whatever the size
    df = BUILDERS[name](SimpleNamespace(**{**vars(kg), "small_graph_edges": 0}))
    assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan_of(df))
    bound = EXCHANGE_BOUNDS.get(name)
    if bound is not None:
        assert shuffle_count(df) <= bound
