"""PageRank operator (operators/graph.py): quantized-integer mass makes the
result bit-deterministic under any partitioning — pinned against an exact
pure-Python integer replay, plus structural sanity on a star graph."""

from pyspark.sql import functions as F

from runne_contrastive_ner_spark.operators.graph import SCALE, pagerank


def _pagerank_local(edges, iterations=3, damping_pct=85, scale=SCALE):
    """Driver-side exact replay of the operator's integer arithmetic."""
    nbrs = sorted(set(edges) | {(b, a) for a, b in edges})
    deg: dict[str, int] = {}
    for a, _ in nbrs:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    base = (scale * (100 - damping_pct) // 100) // n
    pr = {v: scale // n for v in deg}
    for _ in range(iterations):
        s = {v: 0 for v in deg}
        for a, b in nbrs:
            s[b] += pr[a] // deg[a]
        pr = {v: base + (damping_pct * s[v]) // 100 for v in deg}
    return pr


def _to_df(spark, edges):
    both = sorted(set(edges) | {(b, a) for a, b in edges})
    return spark.createDataFrame(both, ["src", "dst"])


class TestPageRank:
    EDGES = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),  # cluster with hub a
        ("e", "f"),                                       # separate pair
        ("d", "e"),                                       # bridge
    ]

    def test_matches_integer_replay_exactly(self, spark):
        # forced-distributed path (small_graph_edges=0): the shuffled
        # iterations must equal the python integer replay
        got = {
            r.src: r.pr_q
            for r in pagerank(
                _to_df(spark, self.EDGES), small_graph_edges=0
            ).collect()
        }
        assert got == _pagerank_local(self.EDGES)

    def test_driver_fast_path_equals_distributed(self, spark):
        """Hybrid cutover (components.py discipline): the default
        small-graph driver path and the forced-distributed path are
        bit-identical — the cutover is purely a latency decision."""
        df = _to_df(spark, self.EDGES)
        fast = {r.src: r.pr_q for r in pagerank(df).collect()}
        dist = {
            r.src: r.pr_q
            for r in pagerank(df, small_graph_edges=0).collect()
        }
        assert fast == dist

    def test_parallelism_invariant(self, spark):
        """The determinism claim itself: 1-partition and 16-partition runs
        produce identical BIGINT ranks (a float PageRank would differ in
        the low bits across shuffle orders)."""
        df = _to_df(spark, self.EDGES)
        one = {
            r.src: r.pr_q
            for r in pagerank(df.coalesce(1), small_graph_edges=0).collect()
        }
        many = {
            r.src: r.pr_q
            for r in pagerank(df.repartition(16), small_graph_edges=0).collect()
        }
        assert one == many

    def test_star_hub_ranks_highest_and_mass_conserved(self, spark):
        star = [("hub", f"leaf{i}") for i in range(20)]
        rows = pagerank(_to_df(spark, star), iterations=5).collect()
        pr = {r.src: r.pr_q for r in rows}
        assert pr["hub"] == max(pr.values())
        assert all(pr["hub"] > v for k, v in pr.items() if k != "hub")
        # leaves are symmetric -> identical quantized rank
        assert len({v for k, v in pr.items() if k != "hub"}) == 1
        # mass conservation up to integer-truncation dust
        total = sum(pr.values())
        assert SCALE * 0.999 <= total <= SCALE

    def test_empty_graph(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        assert pagerank(df).count() == 0

    def test_scale_matches_replay(self, spark):
        """~50k-node star clusters + a chain (hub skew + low-degree tail in
        one graph): the distributed run must equal the exact driver replay,
        and hubs must outrank every member."""
        from pyspark.sql import functions as F

        n_stars, star_size, chain_len = 700, 70, 500
        stars = spark.range(n_stars * star_size).select(
            F.concat(
                F.lit("h"),
                F.lpad((F.col("id") / star_size).cast("int").cast("string"), 6, "0"),
            ).alias("src"),
            F.concat(F.lit("m"), F.lpad(F.col("id").cast("string"), 8, "0")).alias(
                "dst"
            ),
        )
        chain = spark.range(chain_len).select(
            F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 6, "0")).alias(
                "src"
            ),
            F.concat(
                F.lit("c"), F.lpad((F.col("id") + 1).cast("string"), 6, "0")
            ).alias("dst"),
        )
        one_way = stars.unionByName(chain)
        both = one_way.unionByName(
            one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        got = {r.src: r.pr_q for r in pagerank(both, iterations=3).collect()}
        edges = [(r.src, r.dst) for r in one_way.collect()]
        expected = _pagerank_local(edges, iterations=3)
        assert got == expected
        hubs = [v for k, v in got.items() if k.startswith("h")]
        members = [v for k, v in got.items() if k.startswith("m")]
        assert min(hubs) > max(members)


def _sym(spark, und_pairs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(sorted(set(und_pairs)), "src string, dst string")
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _triangles_brute(und_pairs) -> dict[str, int]:
    import itertools

    adj: dict[str, set] = {}
    for a, b in und_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            out[a] += 1
            out[b] += 1
            out[c] += 1
    return {k: v for k, v in out.items() if v}


class TestTriangles:
    def test_single_triangle_plus_tail(self, spark):
        from runne_contrastive_ner_spark.operators.graph import triangle_counts

        und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        got = {
            r.src: r.n_triangles
            for r in triangle_counts(_sym(spark, und)).collect()
        }
        assert got == {"a": 1, "b": 1, "c": 1}

    def test_random_graph_matches_bruteforce(self, spark):
        import random

        from runne_contrastive_ner_spark.operators.graph import triangle_counts

        nodes = [f"n{i:02d}" for i in range(24)]
        for seed in (41, 42, 1337):
            rng = random.Random(seed)
            und = {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(90)
            }
            sym = _sym(spark, und)
            fast = {
                r.src: r.n_triangles for r in triangle_counts(sym).collect()
            }
            dist = {
                r.src: r.n_triangles
                for r in triangle_counts(sym, small_graph_edges=0).collect()
            }
            # driver fast path == distributed join path == brute force
            assert fast == dist == _triangles_brute(und), seed

    def test_k4_counts(self, spark):
        """Complete graph on 4 nodes: each node sits in C(3,2)=3 triangles."""
        import itertools

        from runne_contrastive_ner_spark.operators.graph import triangle_counts

        und = list(itertools.combinations("wxyz", 2))
        got = {
            r.src: r.n_triangles
            for r in triangle_counts(_sym(spark, und)).collect()
        }
        assert got == {"w": 3, "x": 3, "y": 3, "z": 3}


def _label_prop_brute(und_pairs, iterations: int) -> dict[str, str]:
    from collections import Counter

    adj: dict[str, set] = {}
    for a, b in und_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for n in adj:
            cnt = Counter(lab[m] for m in adj[n])
            # deterministic: max count, ties -> MIN label
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        lab = nxt
    return lab


class TestLabelPropagation:
    def test_two_cliques_one_bridge(self, spark):
        """Two 4-cliques joined by a single bridge edge resolve into two
        communities (the bridge cannot outvote the cliques)."""
        import itertools

        from runne_contrastive_ner_spark.operators.graph import (
            label_propagation,
        )

        left = list(itertools.combinations(["a1", "a2", "a3", "a4"], 2))
        right = list(itertools.combinations(["b1", "b2", "b3", "b4"], 2))
        und = left + right + [("a4", "b1")]
        got = {
            r.src: r.community
            for r in label_propagation(_sym(spark, und), 4).collect()
        }
        assert len({got[n] for n in ["a1", "a2", "a3", "a4"]}) == 1
        assert len({got[n] for n in ["b1", "b2", "b3", "b4"]}) == 1
        assert got["a1"] != got["b2"]

    def test_matches_brute_force_and_is_deterministic(self, spark):
        import random

        from runne_contrastive_ner_spark.operators.graph import (
            label_propagation,
        )

        rng = random.Random(7)
        nodes = [f"v{i:02d}" for i in range(20)]
        und = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)}
        sym = _sym(spark, und)
        fast = {
            r.src: r.community for r in label_propagation(sym, 4).collect()
        }
        dist1 = {
            r.src: r.community
            for r in label_propagation(sym, 4, small_graph_edges=0).collect()
        }
        dist2 = {
            r.src: r.community
            for r in label_propagation(
                sym.repartition(7), 4, small_graph_edges=0
            ).collect()
        }
        assert fast == dist1 == dist2 == _label_prop_brute(und, 4)


def _kcore_naive(und_pairs) -> dict[str, int]:
    """Reference core numbers by definition: for each k, repeatedly delete
    nodes of degree < k; survivors have core >= k."""
    adj = {}
    for a, b in und_pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    core = {n: 0 for n in adj}
    k = 1
    alive = set(adj)
    while alive:
        # peel to the k-core
        changed = True
        cur = {n: {m for m in adj[n] if m in alive} for n in alive}
        while changed:
            drop = {n for n in cur if len(cur[n]) < k}
            changed = bool(drop)
            for n in drop:
                for m in cur[n]:
                    cur[m].discard(n)
                del cur[n]
        for n in cur:
            core[n] = k
        alive = set(cur)
        k += 1
    return core


class TestKCore:
    def test_clique_plus_tail(self, spark):
        """K4 with a pendant path: clique nodes core 3, path nodes core 1."""
        import itertools

        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        und = list(itertools.combinations("wxyz", 2)) + [("z", "p1"), ("p1", "p2")]
        got = {r.src: r.core for r in k_core_numbers(_sym(spark, und)).collect()}
        assert got == {"w": 3, "x": 3, "y": 3, "z": 3, "p1": 1, "p2": 1}

    def test_random_graphs_local_equals_distributed_equals_naive(self, spark):
        import random

        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        nodes = [f"n{i:02d}" for i in range(20)]
        for seed in (7, 99, 2024):
            rng = random.Random(seed)
            und = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)}
            sym = _sym(spark, und)
            fast = {r.src: r.core for r in k_core_numbers(sym).collect()}
            dist = {
                r.src: r.core
                for r in k_core_numbers(sym, small_graph_edges=0).collect()
            }
            assert fast == dist == _kcore_naive(und), seed

    def test_empty(self, spark):
        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        empty = spark.createDataFrame([], "src string, dst string")
        assert k_core_numbers(empty).count() == 0

    def test_star_graph_center_gets_core_row(self, spark):
        """ADVICE r5 (high): on the distributed path, the star center's
        every neighbor drops in the same peel round, so the center used
        to vanish from the edge list without a core row. Both paths must
        emit core 1 for every node."""
        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        und = [("c", f"l{i}") for i in range(6)]
        want = {n: 1 for n in ["c"] + [f"l{i}" for i in range(6)]}
        sym = _sym(spark, und)
        local = {r.src: r.core for r in k_core_numbers(sym).collect()}
        dist = {
            r.src: r.core
            for r in k_core_numbers(sym, small_graph_edges=0).collect()
        }
        assert local == want
        assert dist == want

    def test_double_star_and_pendant_chain_distributed(self, spark):
        """Two stars joined at the centers plus a pendant chain — several
        vanish events across different phases on the distributed path."""
        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        und = (
            [("c1", f"a{i}") for i in range(4)]
            + [("c2", f"b{i}") for i in range(4)]
            + [("c1", "c2"), ("b0", "t1"), ("t1", "t2")]
        )
        sym = _sym(spark, und)
        naive = _kcore_naive(und)
        dist = {
            r.src: r.core
            for r in k_core_numbers(sym, small_graph_edges=0).collect()
        }
        local = {r.src: r.core for r in k_core_numbers(sym).collect()}
        assert dist == local == naive

    def test_deep_degeneracy_round_bound(self, spark):
        """VERDICT r5 item 6: nested cliques (K9 ⊃ shared K5 ⊃ pendant
        path, degeneracy 8) through the distributed path — numbers equal
        the naive peel AND the inner-round count stays within the
        documented n_nodes + degeneracy + 1 bound."""
        import itertools

        from runne_contrastive_ner_spark.operators import graph
        from runne_contrastive_ner_spark.operators.graph import k_core_numbers

        k9 = [f"k{i}" for i in range(9)]
        k5 = k9[:2] + [f"m{i}" for i in range(3)]
        und = (
            list(itertools.combinations(k9, 2))
            + list(itertools.combinations(k5, 2))
            + [("m0", "p0"), ("p0", "p1"), ("p1", "p2")]
        )
        und = sorted(set(tuple(sorted(e)) for e in und))
        naive = _kcore_naive(und)
        dist = {
            r.src: r.core
            for r in k_core_numbers(_sym(spark, und), small_graph_edges=0)
            .collect()
        }
        assert dist == naive
        degeneracy = max(naive.values())
        assert degeneracy >= 8
        n_nodes = len(naive)
        assert graph._LAST_PEEL_ROUNDS <= n_nodes + degeneracy + 1


class TestIdTypes:
    """The driver paths keep the input's id type, as the distributed paths
    do: on a bigint edge list both give the same rows and column types,
    also on an empty graph."""

    UND = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (10, 11)]

    @staticmethod
    def _ops():
        from runne_contrastive_ner_spark.operators.graph import (
            k_core_numbers,
            label_propagation,
            pagerank,
            triangle_counts,
        )

        return (pagerank, triangle_counts, label_propagation, k_core_numbers)

    def _check(self, nbrs):
        for op in self._ops():
            local = op(nbrs)
            dist = op(nbrs, small_graph_edges=0)
            assert local.dtypes == dist.dtypes, op.__name__
            assert local.dtypes[0] == ("src", "bigint"), op.__name__
            assert sorted(local.collect()) == sorted(dist.collect()), op.__name__

    def test_bigint_ids(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(self.UND, "src bigint, dst bigint")
        self._check(
            df.unionByName(
                df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        )

    def test_empty_bigint_graph(self, spark):
        self._check(spark.createDataFrame([], "src bigint, dst bigint"))


class TestEdgesFingerprint:
    """``edges_fingerprint_of`` over collected per-edge hashes equals the
    Spark aggregation ``edges_fingerprint``: the analytics build records
    one, the refresh compares it with the other."""

    def test_driver_equals_spark(self, spark):
        from pyspark.sql import functions as F

        from runne_contrastive_ner_spark.streaming.incremental import (
            edges_fingerprint,
            edges_fingerprint_of,
        )

        for edges in (
            _sym(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e")]),
            spark.range(0, 3000).select(
                F.col("id").alias("src"), (F.col("id") * 7 % 101).alias("dst")
            ),
            spark.createDataFrame([], "src bigint, dst bigint"),
        ):
            hashes = [
                r[0] for r in edges.select(F.xxhash64("src", "dst")).collect()
            ]
            assert edges_fingerprint_of(hashes) == edges_fingerprint(edges)
