"""Graph analytics over the materialized KG: fixed-iteration PageRank.

Consumes the symmetrized co-occurrence edge list the linking stage emits
(same graph as the two-hop / degree queries) and ranks canonical entities
by random-walk centrality — the standard "which entities anchor this
corpus" signal a KG product exposes next to degree counts.

Determinism at scale: floating-point summation across a shuffle is
order-dependent, so two runs (or two cluster sizes) of a float PageRank
disagree in the low bits and a value-hash oracle can never pin it. Rank
mass is therefore carried as QUANTIZED INTEGER units (``scale`` = 1e12 of
total mass) with integer division for the per-edge spread and the damping
blend — every step is an associative/commutative int64 operation, so the
result is bit-identical under any partitioning / parallelism and exactly
replayable in ANSI SQL (the DuckDB oracle unrolls the same iterations).
The truncation error this trades away is ~deg/1e12 mass per node per
iteration — invisible at rank granularity.

Shuffle shape: each iteration is one equi-join (ranks × edges, both keyed
on the source node) + one groupBy on the destination — two shuffles per
iteration on stable keys, no driver-side data loops (the only driver
action is the bounded node-count scalar). Fixed ``iterations`` keeps the
lineage short; callers running many iterations should localCheckpoint the
rank table every ~10 rounds (same guidance as components.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def cooccurrence_edges(triples: DataFrame) -> DataFrame:
    """Symmetrized undirected edge list ``(src, dst)`` from a triple table:
    distinct ``co_occurs_with`` pairs, both directions. The single source
    of the graph shape shared by the PageRank query, the pipeline's
    analytics stage, and any future graph consumer — one place to change
    weighting/filtering without desynchronizing the materialized stage
    from the oracle-checked query."""
    pairs = (
        triples.filter(F.col("pred") == "co_occurs_with")
        .select("subj", "obj")
        .distinct()
    )
    return (
        pairs.unionByName(
            pairs.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
        )
        .distinct()
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )


SMALL_GRAPH_EDGES = 100_000


def _id_type(nbrs: DataFrame) -> str:
    """DDL type of the node ids: driver-built outputs keep the input's id
    type, as the distributed paths do."""
    return nbrs.schema["src"].dataType.simpleString()


def _driver_result(nbrs: DataFrame, values: dict, value_ddl: str) -> DataFrame:
    """``(src, <value>)`` rows from a driver kernel's per-node dict."""
    return nbrs.sparkSession.createDataFrame(
        sorted(values.items()), f"src {_id_type(nbrs)}, {value_ddl}"
    )

# test-observability hook: inner peel rounds executed by the last
# DISTRIBUTED k_core_numbers call (tests assert the degeneracy-derived
# bound on deep graphs); runtime code never reads it
_LAST_PEEL_ROUNDS = 0


def _pagerank_local(
    edges: list[tuple[str, str]],
    iterations: int,
    damping_pct: int,
    scale: int,
) -> dict[str, int]:
    """Driver-side mirror of the distributed iterations — the SAME
    quantized-integer operations (sum of floor-divided contributions is
    order-independent), so the two paths are bit-identical by
    construction (asserted in tests/test_graph.py)."""
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    if n == 0:
        return {}
    base = (scale * (100 - damping_pct) // 100) // n
    pr = {s: scale // n for s in deg}
    for _ in range(iterations):
        sums: dict[str, int] = {}
        for s, d in edges:
            sums[d] = sums.get(d, 0) + pr[s] // deg[s]
        pr = {s: base + (damping_pct * sums.get(s, 0)) // 100 for s in deg}
    return pr


def pagerank(
    nbrs: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """PageRank over a symmetrized edge list ``(src, dst)``.

    ``nbrs`` must contain each undirected edge in BOTH directions (the
    shape kg_two_hop/kg_entity_degrees already build); every node then has
    out-degree >= 1, so there is no dangling-mass redistribution term.
    ``damping_pct`` is the damping factor in integer percent (85 = 0.85).

    Hybrid strategy (components.py discipline): a graph under
    ``small_graph_edges`` is solved driver-side with the identical integer
    arithmetic — every distributed iteration on a tiny graph is pure
    scheduler overhead (measured ~2s of fixed cost at 33 nodes) — while
    larger graphs run the two-shuffle-per-iteration distributed loop. The
    quantized ops make the paths bit-identical, so the cutover is purely a
    latency decision.

    Returns ``(src, pr_q)`` where ``pr_q`` is the quantized rank in
    ``scale`` units of total mass (sum over nodes <= scale; the shortfall
    is integer-truncation dust).
    """
    # truncate the upstream lineage once: every iteration re-references the
    # edge list, and without this the (potentially expensive) graph
    # derivation would be replayed O(iterations) times in the physical plan
    # (same rationale as components.py's checkpoint cadence)
    nbrs = nbrs.localCheckpoint(eager=True)
    n_edges = nbrs.count()  # cheap: counts the checkpointed RDD
    if n_edges <= small_graph_edges:
        edges = [(r[0], r[1]) for r in nbrs.collect()]  # bounded by contract
        pr = _pagerank_local(edges, iterations, damping_pct, scale)
        return _driver_result(nbrs, pr, "pr_q long")
    deg = nbrs.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n = deg.count()  # bounded scalar: one number for the teleport term
    if n == 0:
        return deg.select("src", F.lit(0).cast("long").alias("pr_q"))
    base = (scale * (100 - damping_pct) // 100) // n
    pr = deg.select("src", F.lit(scale // n).cast("long").alias("pr_q"), "deg")
    for _ in range(iterations):
        contrib = pr.join(nbrs, "src").select(
            F.col("dst").alias("src"), F.expr("pr_q DIV deg").alias("c")
        )
        sums = contrib.groupBy("src").agg(F.sum("c").cast("long").alias("s"))
        pr = deg.join(sums, "src", "left").select(
            "src",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) DIV 100")
            ).cast("long").alias("pr_q"),
            "deg",
        )
    return pr.select("src", "pr_q")


def _triangles_local(sym_edges: list[tuple[str, str]]) -> dict[str, int]:
    """Driver-side mirror of the degree-ordered enumeration."""
    deg: dict[str, int] = {}
    adj: dict[str, set] = {}
    for s, d in sym_edges:
        deg[s] = deg.get(s, 0) + 1
        adj.setdefault(s, set()).add(d)
    order = {n: (deg[n], n) for n in deg}
    out_sets = {
        n: {m for m in adj[n] if order[n] < order[m]} for n in adj
    }
    counts: dict[str, int] = {}
    for a, outs in out_sets.items():
        # pairs must follow the ORIENTATION order (deg, id): the closing
        # edge b->c exists in out(b) only when order[b] < order[c]
        ordered = sorted(outs, key=lambda m: order[m])
        for i, b in enumerate(ordered):
            ob = out_sets[b]
            for c in ordered[i + 1 :]:
                if c in ob:
                    for node in (a, b, c):
                        counts[node] = counts.get(node, 0) + 1
    return counts


def triangle_counts(
    nbrs: DataFrame, small_graph_edges: int = SMALL_GRAPH_EDGES
) -> DataFrame:
    """Per-node triangle participation over a symmetrized edge list —
    degree-ordered orientation (the standard O(m^1.5) distributed scheme:
    orient each undirected edge from the (degree, id)-smaller endpoint to
    the larger, enumerate wedges at each tail, close them against the
    oriented edge set). Every stage is an equi-join or groupBy on edge
    keys; the orientation bounds every node's out-degree by O(sqrt(m)), so
    no hub explodes the wedge join — the property that makes this shape
    survive power-law graphs at 100 TB where a naive nbrs^3 join dies.

    Determinism: counting is integer; the orientation total-orders nodes by
    (degree, id), so the result is partitioning-independent and the DuckDB
    oracle replays the identical construction.

    Returns ``(src, n_triangles)`` for nodes in >= 1 triangle.

    Hybrid strategy: graphs under ``small_graph_edges`` run the identical
    degree-ordered enumeration driver-side (integer counts — the paths are
    equal by construction; asserted in tests), larger graphs the join form.
    """
    nbrs = nbrs.localCheckpoint(eager=True)
    if nbrs.count() <= small_graph_edges:
        counts = _triangles_local([(r[0], r[1]) for r in nbrs.collect()])
        return _driver_result(nbrs, counts, "n_triangles long")
    deg = nbrs.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    und = nbrs.filter(F.col("src") < F.col("dst"))
    da = deg.select(F.col("src").alias("u"), F.col("deg").alias("dega"))
    db = deg.select(F.col("src").alias("v"), F.col("deg").alias("degb"))
    lo_first = F.expr("dega < degb OR (dega = degb AND src < dst)")
    ori = (
        und.join(da, und.src == da.u)
        .join(db, und.dst == db.v)
        .select(
            F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
        )
        # referenced 3x (both wedge sides + the closing join): materialize
        # once so neither the plan nor the runtime replays the orientation
        .localCheckpoint(eager=True)
    )
    o1 = ori.select(F.col("a").alias("t"), F.col("b").alias("h1"))
    o2 = ori.select(F.col("a").alias("t"), F.col("b").alias("h2"))
    wedge = o1.join(o2, "t").filter(F.col("h1") != F.col("h2"))
    closing = ori.select(F.col("a").alias("h1"), F.col("b").alias("h2"))
    tri = wedge.join(closing, ["h1", "h2"])
    members = (
        tri.select(F.col("t").alias("src"))
        .unionAll(tri.select(F.col("h1").alias("src")))
        .unionAll(tri.select(F.col("h2").alias("src")))
    )
    return members.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def _label_prop_local(
    sym_edges: list[tuple[str, str]], iterations: int
) -> dict[str, str]:
    """Driver-side mirror of the synchronous rounds."""
    adj: dict[str, list] = {}
    for s, d in sym_edges:
        adj.setdefault(d, []).append(s)
    lab = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for n, srcs in adj.items():
            cnt: dict[str, int] = {}
            for m in srcs:
                l = lab[m]
                cnt[l] = cnt.get(l, 0) + 1
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        lab = nxt
    return lab


def label_propagation(
    nbrs: DataFrame,
    iterations: int = 4,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    made deterministic: every node starts labeled with itself; each round
    every node adopts its neighbors' most frequent label, ties broken by
    MINIMUM label; all nodes update simultaneously for a fixed number of
    rounds. Frequency + min tie-break makes each round a pure function of
    the previous labeling — no RNG, no visit order — so the result is
    identical under any partitioning and the oracle unrolls the same
    rounds in SQL.

    Shuffle shape per round: one equi-join (labels x edges) + one groupBy
    (node, label) + one per-node top-1 window — all keyed on node ids.

    Returns ``(src, community)``.

    Hybrid strategy: under ``small_graph_edges`` the identical synchronous
    rounds run driver-side (most-frequent + min tie-break is a pure
    function of the labeling — equal by construction; asserted in tests).
    """
    from pyspark.sql import Window

    nbrs = nbrs.localCheckpoint(eager=True)
    if nbrs.count() <= small_graph_edges:
        lab_map = _label_prop_local(
            [(r[0], r[1]) for r in nbrs.collect()], iterations
        )
        return _driver_result(nbrs, lab_map, f"community {_id_type(nbrs)}")
    lab = nbrs.select("src").distinct().withColumn("lab", F.col("src"))
    pick = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(iterations):
        neigh = nbrs.join(lab, "src").select(
            F.col("dst").alias("node"), "lab"
        )
        cnt = neigh.groupBy("node", "lab").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        lab = (
            cnt.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select(F.col("node").alias("src"), "lab")
        )
    return lab.select("src", F.col("lab").alias("community"))


def _kcore_local(sym_edges: list[tuple[str, str]]) -> dict[str, int]:
    """Driver-side core numbers (Batagelj–Zaveršnik bucket peeling, O(m)):
    repeatedly remove the minimum-degree node; a node's core number is the
    minimum degree of the subgraph at the moment it is removed, maxed over
    the peel so far."""
    adj: dict[str, set] = {}
    for s, d in sym_edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    deg = {n: len(v) for n, v in adj.items()}
    if not deg:
        return {}
    max_deg = max(deg.values())
    bins: list[list[str]] = [[] for _ in range(max_deg + 1)]
    for n in sorted(deg):  # sorted: deterministic peel order
        bins[deg[n]].append(n)
    core: dict[str, int] = {}
    removed: set[str] = set()
    cur = 0
    while len(core) < len(deg):
        while cur <= max_deg and not bins[cur]:
            cur += 1
        n = bins[cur].pop(0)
        if n in removed:
            continue
        removed.add(n)
        core[n] = cur
        for m in adj[n]:
            if m in removed:
                continue
            deg[m] -= 1
            if deg[m] >= cur:
                bins[max(deg[m], cur)].append(m)
        # peeling can only lower the remaining minimum to cur, never below
    return core


def k_core_numbers(
    nbrs: DataFrame,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Core decomposition: per node, the largest k such that the node
    belongs to a subgraph of minimum degree >= k — the standard density
    ladder a KG operator reads next to degree/PageRank (a high-core entity
    sits in a densely interlinked cluster; a high-degree low-core one is a
    star hub). → ``(src, core)``.

    Distributed shape: phase-k peeling. For k = 1, 2, ...: repeatedly drop
    nodes with remaining degree < k (each inner round = one groupBy + one
    anti-join, both keyed on node id; the edge list is localCheckpointed
    per round so lineage stays flat); nodes dropped in phase k have core
    number k-1. A node whose EVERY remaining neighbor drops in the same
    round vanishes from the edge list without ever failing the degree
    test — its residual degree fell to 0 < k, so it peels in the same
    phase and is emitted with core k-1 too (the ``vanished`` leg below;
    without it a star-graph center would get no core row at all).
    Deterministic by construction — the removal SET per round is a pure
    function of the graph, no visit order. Peel depth is bounded by the
    graph's degeneracy (tiny for co-occurrence graphs: a clique of size c
    has degeneracy c-1); each inner round removes >=1 node, so total
    inner rounds <= n_nodes + degeneracy + 1 (``_LAST_PEEL_ROUNDS`` is
    set for tests to assert the bound). Accumulated output parts are
    folded + localCheckpointed every 16 unions so the union lineage (and
    the pinned per-round checkpoint blocks it references) stays flat on
    deep peels.

    Hybrid: graphs under ``small_graph_edges`` peel driver-side
    (Batagelj–Zaveršnik) — identical numbers, asserted against the
    distributed path in tests (including the star shape that exercises
    the vanished leg)."""
    global _LAST_PEEL_ROUNDS
    nbrs = nbrs.localCheckpoint(eager=True)
    if nbrs.count() <= small_graph_edges:
        core = _kcore_local([(r[0], r[1]) for r in nbrs.collect()])
        return _driver_result(nbrs, core, "core long")
    remaining = nbrs
    parts: list[DataFrame] = []
    k = 1
    _LAST_PEEL_ROUNDS = 0
    while remaining.limit(1).count() > 0:
        while True:
            _LAST_PEEL_ROUNDS += 1
            deg = remaining.groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("d")
            )
            low = deg.filter(F.col("d") < k).select("src").localCheckpoint(
                eager=True
            )
            if low.limit(1).count() == 0:
                break
            core_k = F.lit(k - 1).cast("long").alias("core")
            parts.append(low.select("src", core_k))
            kept = deg.filter(F.col("d") >= k).select("src")
            remaining = (
                remaining.join(low, "src", "left_anti")
                .join(low.withColumnRenamed("src", "dst"), "dst", "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            # kept nodes absent from the post-removal edge list lost ALL
            # neighbors this round: residual degree 0 < k -> core k-1.
            # (anti-join needs no distinct on the right; the symmetric
            # edge list guarantees src-set == dst-set.)
            parts.append(
                kept.join(remaining, "src", "left_anti").select("src", core_k)
            )
            if len(parts) >= 16:
                parts = [
                    functools.reduce(DataFrame.unionByName, parts)
                    .localCheckpoint(eager=True)
                ]
        k += 1
    if not parts:
        return _driver_result(nbrs, {}, "core long")
    return functools.reduce(DataFrame.unionByName, parts)
