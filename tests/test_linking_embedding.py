"""Contrastive-embedding linking in the gated product path (VERDICT r3 #3).

The reference's defining idea is that a contrastive metric space drives
entity identity (siamese_nn.py:86-104, M9/M10): two surfaces are the same
entity iff they are close in the learned space. ``kg_entities_embedding``
runs that idea end-to-end with the portable bigram-hash surface embedding
(linking.bigram_embedding_edges) whose every arithmetic step is replayable
in DuckDB. These tests pin:

1. the bigram edge kernel against an independent pure-Python mirror
   (same md5 bucketing via functions.hashing.md5_int);
2. that ``use_embedding_edges=True`` produces at least one merge that the
   alias list alone misses, on the driver corpus itself;
3. the per-method threshold defaults (bigram 0.72 vs hash 0.9) — the bug
   class where one engine links at one operating point and the oracle at
   another.
"""

from __future__ import annotations

import math

import pytest

from runne_contrastive_ner_spark.functions.hashing import md5_int
from runne_contrastive_ner_spark.operators.linking import (
    BIGRAM_DIM,
    BIGRAM_THRESHOLD,
    bigram_embedding_edges,
    canonicalize,
    embedding_edges,
    entity_nodes,
)


def _py_bigram_vec(surface: str, dim: int = BIGRAM_DIM) -> list[int]:
    s = f"^{surface}$"
    vec = [0] * dim
    for j in range(len(s) - 1):
        vec[md5_int(s[j : j + 2]) % dim] += 1
    return vec


def _py_cos(a: str, b: str) -> float:
    va, vb = _py_bigram_vec(a), _py_bigram_vec(b)
    dot = sum(x * y for x, y in zip(va, vb))
    return dot / math.sqrt(sum(x * x for x in va) * sum(y * y for y in vb))


SURFACES = [
    "spark table",
    "fast table",
    "spark spark table",
    "merge",
    "merge merge merge",
    "key key",
    "key key key",
    "window",
    "unrelated zzz",
]


@pytest.fixture(scope="module")
def nodes(spark):
    rows = [(s, i + 1) for i, s in enumerate(SURFACES)]
    df = spark.createDataFrame(rows, "surface_norm string, n_mentions long")
    return df.select("surface_norm", "n_mentions")


def test_bigram_edges_match_python_mirror(spark, nodes):
    got = {
        tuple(r)
        for r in bigram_embedding_edges(nodes).select("src", "dst").collect()
    }
    want = set()
    for i, a in enumerate(SURFACES):
        for b in SURFACES[i + 1 :]:
            lo, hi = min(a, b), max(a, b)
            if _py_cos(lo, hi) >= BIGRAM_THRESHOLD:
                want.add((lo, hi))
    assert got == want
    # the fixture is not degenerate: it has real edges and real non-edges
    assert len(want) >= 3
    assert ("unrelated zzz",) not in {(e[0],) for e in want} | {(e[1],) for e in want}


def test_bigram_threshold_monotone(spark, nodes):
    loose = bigram_embedding_edges(nodes, threshold=0.5).count()
    tight = bigram_embedding_edges(nodes, threshold=0.95).count()
    assert tight <= loose


def _canonical_map(entities) -> dict[str, str]:
    return {
        r["surface_norm"]: r["canonical_id"]
        for r in entities.select("surface_norm", "canonical_id").collect()
    }


def test_embedding_edges_merge_what_aliases_miss(spark, nodes):
    """At least one pair that the alias list leaves separate is merged once
    the contrastive-embedding edges are on — the core linking claim."""
    mentions = nodes.selectExpr(
        "surface_norm", "surface_norm AS surface", "'PERSON' AS type",
        "'c1' AS conv_id", "0 AS turn_idx", "0 AS start", "1 AS `end`",
    )
    ents_alias, _, _ = canonicalize(spark, mentions, aliases=[])
    ents_emb, edges_emb, _ = canonicalize(
        spark,
        mentions,
        aliases=[],
        use_embedding_edges=True,
        embedding_method="bigram",
    )
    alias_map = _canonical_map(ents_alias)
    emb_map = _canonical_map(ents_emb)
    # with no alias list every surface is its own entity
    assert all(alias_map[s] == s for s in SURFACES)
    # the embedding space merges the paraphrase families
    assert emb_map["key key"] == emb_map["key key key"]
    assert emb_map["merge"] == emb_map["merge merge merge"]
    # and at least one merge exists that aliases alone missed
    merged = [s for s in SURFACES if emb_map[s] != alias_map[s]]
    assert merged
    # unrelated surface stays its own entity
    assert emb_map["unrelated zzz"] == "unrelated zzz"
    # edge provenance is recorded
    kinds = {r["kind"] for r in edges_emb.select("kind").distinct().collect()}
    assert kinds == {"embedding"}


def test_bigram_default_threshold_is_072(spark, nodes):
    """canonicalize(embedding_method='bigram') must link at BIGRAM_THRESHOLD
    (the oracle's operating point), not the hash-embedding default 0.9 —
    regression for the r4 threshold-mismatch bug."""
    mentions = nodes.selectExpr(
        "surface_norm", "surface_norm AS surface", "'PERSON' AS type",
        "'c1' AS conv_id", "0 AS turn_idx", "0 AS start", "1 AS `end`",
    )
    _, edges, _ = canonicalize(
        spark,
        mentions,
        aliases=[],
        use_embedding_edges=True,
        embedding_method="bigram",
    )
    got = {tuple(r) for r in edges.select("src", "dst").collect()}
    # 'merge' ↔ 'merge merge merge' sits at cos ≈ 0.88: inside 0.72, outside 0.9
    assert 0.72 <= _py_cos("merge", "merge merge merge") < 0.9
    assert ("merge", "merge merge merge") in got


def test_driver_corpus_has_an_embedding_only_merge(spark):
    """On the driver corpus itself (sf0.001), alias-only and embedding-edge
    canonicalization differ by at least one real merge."""
    from runne_contrastive_ner_spark.operators.mentions import extract_mentions
    from runne_contrastive_ner_spark.sources.transcripts import from_documents

    mentions = extract_mentions(from_documents(spark, "/root/testdata/sf0.001"))
    plain = _canonical_map(canonicalize(spark, mentions)[0])
    emb = _canonical_map(
        canonicalize(
            spark, mentions, use_embedding_edges=True, embedding_method="bigram"
        )[0]
    )
    assert set(plain) == set(emb)
    extra = {s for s in plain if emb[s] != plain[s]}
    assert extra, "embedding edges produced no merge beyond the alias list"


def test_lsh_candidates_recall_at_dictionary_scale(spark):
    """VERDICT r4 item 4: the bigram df-cap blocking silently drops pairs
    whose every shared bigram is hot — at a 10^7-surface dictionary most
    bigrams blow the cap. candidates='lsh' (centered sign-LSH + 1-bit
    multi-probe + the SAME exact integer re-rank) must recover ≥95% of the
    all-pairs ground truth on a 10k-surface corpus at the scale dim (128),
    and — because the re-rank is exact — emit NO pair below threshold."""
    import random
    import string

    import numpy as np

    from pyspark.sql import functions as F

    from runne_contrastive_ner_spark.operators.linking import BIGRAM_LSH_DIM

    dim, thr = BIGRAM_LSH_DIM, BIGRAM_THRESHOLD
    rng = random.Random(7)

    def word():
        return "".join(
            rng.choice(string.ascii_lowercase) for _ in range(rng.randint(4, 9))
        )

    vocab = [word() for _ in range(4000)]
    surfaces = set()
    while len(surfaces) < 7000:
        surfaces.add(" ".join(rng.sample(vocab, rng.randint(1, 3))))
    for s in sorted(surfaces)[:3000]:
        kind = rng.randint(0, 2)
        if kind == 0:
            surfaces.add(s + "s")
        elif kind == 1:
            surfaces.add(s + " " + s.split()[0])
        else:
            surfaces.add(s + " co")
    surfaces = sorted(surfaces)[:10000]
    n = len(surfaces)

    # all-pairs ground truth with the engine's exact arithmetic: integer
    # dot (exact in float64 — counts are tiny) / sqrt of integer norms
    V = np.stack([_py_bigram_vec(s, dim) for s in surfaces]).astype(np.float64)
    n2 = (V * V).sum(1)
    truth = set()
    for i0 in range(0, n, 1000):
        C = (V[i0 : i0 + 1000] @ V.T) / np.sqrt(np.outer(n2[i0 : i0 + 1000], n2))
        for a, b in zip(*np.where(C >= thr)):
            if i0 + a < b:
                truth.add((surfaces[i0 + int(a)], surfaces[int(b)]))
    assert len(truth) > 2000  # the corpus plants real near-dup structure

    nodes = spark.createDataFrame(
        [(s,) for s in surfaces], "surface_norm string"
    ).repartition(8)
    got = {
        tuple(r)
        for r in bigram_embedding_edges(
            nodes, dim=dim, candidates="lsh"
        ).collect()
    }
    # exact re-rank: zero false positives
    assert got <= truth
    recall = len(got) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall:.4f} < 0.95 ({len(got)}/{len(truth)})"


def test_embedding_edges_lsh_matches_allpairs(spark):
    """VERDICT r1 item 10: the optional contrastive-linking edge source is
    LSH-bucketed; property-test edge recall vs the all-pairs form. Surfaces
    and hash embeddings are fully deterministic (md5), so exact set equality
    is a stable assertion."""
    surfaces = [(f"surface {i:03d}",) for i in range(240)]
    nodes = spark.createDataFrame(surfaces, "surface_norm string")
    kw = dict(threshold=0.6, dim=16, n_tables=16, n_planes=2)
    lsh = sorted(tuple(r) for r in embedding_edges(nodes, method="lsh", **kw).collect())
    exact = sorted(
        tuple(r) for r in embedding_edges(nodes, method="exact", **kw).collect()
    )
    assert len(exact) > 0  # the threshold actually selects pairs
    assert lsh == exact
