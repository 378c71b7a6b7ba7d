"""DuckDB oracle SQL for the KG outputs and the training-set builders.

Each SQL string computes, on DuckDB over the sf parquet tables registered as
views, exactly what the corresponding Spark composition in
tests/test_kg_oracles.py computes — same column names, same value semantics
(md5-derived hashing, integer arithmetic, identical tie-breaking). The KG oracles derive the transcripts table from
``documents`` with the same arithmetic the engine uses
(sources/transcripts.py) and re-implement mention detection as substring
search + island merging, canonicalization as a recursive-CTE transitive
closure — an independent formulation that must agree with the
tokenize→score→decode→CC pipeline.
"""

from __future__ import annotations

from .functions.hashing import duckdb_md5_int_sql
from .functions.vocab import (
    ENTITY_TYPES,
    EVAL_GOLD_GAZETTEER,
    TEST_ALIASES,
    TEST_GAZETTEER,
)
from .sources.transcripts import DUCKDB_TRANSCRIPTS_SQL

# ---------------------------------------------------------------------------
# KG pipeline oracles (independent SQL formulation of stages 1, 3/4, 2/5)
#
# DuckDB (1.0) inlines a CTE at every reference, so a chain referenced from
# several places (mentions, canon, entities, and the graph oracles' turn_ents,
# co and nbrs) is recomputed per reference: on sf0.01 the two-hop and
# PageRank oracles then take minutes and the triangle oracle exhausts memory.
# Those CTEs are declared AS MATERIALIZED; the results do not change.
# ---------------------------------------------------------------------------


def _terms_values(gazetteer: dict[str, str] | None = None) -> str:
    gazetteer = TEST_GAZETTEER if gazetteer is None else gazetteer
    return ", ".join(
        f"('{surface}', '{etype}')" for surface, etype in sorted(gazetteer.items())
    )


def _alias_values() -> str:
    return ", ".join(f"('{a}', '{b}')" for a, b in TEST_ALIASES)


def mention_ctes(prefix: str, gazetteer: dict[str, str] | None = None) -> str:
    """Standalone mention CTE chain (no WITH keyword) with prefixed names,
    so two gazetteers' mention sets can coexist in one query (the A5
    evaluation oracle)."""
    return f"""
{prefix}terms(term, type) AS (VALUES {_terms_values(gazetteer)}),
{prefix}raw_matches AS (
  SELECT t.conv_id, t.turn_idx, g.type, u.i - 1 AS m_start,
         u.i - 1 + length(g.term) AS m_end, t.text
  FROM transcripts t
  CROSS JOIN {prefix}terms g,
  UNNEST(range(1, length(t.text) - length(g.term) + 2)) AS u(i)
  WHERE substr(lower(t.text), u.i, length(g.term)) = g.term
    AND (u.i = 1 OR NOT regexp_matches(substr(lower(t.text), u.i - 1, 1), '[a-z0-9]'))
    AND (u.i + length(g.term) > length(t.text)
         OR NOT regexp_matches(substr(lower(t.text), u.i + length(g.term), 1), '[a-z0-9]'))
),
{prefix}flagged AS (
  -- island merge mirrors the engine sentenizer's CONDITIONAL newline rule
  -- (reference tokenization.py:304-354): a whitespace gap merges unless it
  -- contains a newline/CR AND the next match starts title-case (matched
  -- surfaces never end in ?/!/., so that branch of the block rule is moot)
  SELECT *, CASE WHEN lag(m_end) OVER w IS NULL THEN 1
                 WHEN regexp_matches(substr(text, lag(m_end) OVER w + 1,
                                             m_start - lag(m_end) OVER w),
                                     '^[[:space:]]*$')
                      AND NOT ((contains(substr(text, lag(m_end) OVER w + 1,
                                                m_start - lag(m_end) OVER w),
                                         chr(10))
                                OR contains(substr(text, lag(m_end) OVER w + 1,
                                                   m_start - lag(m_end) OVER w),
                                            chr(13)))
                               AND regexp_matches(substr(text, m_start + 1, 1),
                                                  '[A-Z]')) THEN 0
                 ELSE 1 END AS new_island
  FROM {prefix}raw_matches
  WINDOW w AS (PARTITION BY conv_id, turn_idx, type ORDER BY m_start)
),
{prefix}islands AS (
  SELECT *, sum(new_island) OVER (PARTITION BY conv_id, turn_idx, type
                                  ORDER BY m_start) AS island
  FROM {prefix}flagged
),
{prefix}mentions AS (
  SELECT conv_id, turn_idx, type,
         min(m_start)::INTEGER AS start, max(m_end)::INTEGER AS "end"
  FROM {prefix}islands
  GROUP BY conv_id, turn_idx, type, island
)
""".strip()


def kg_common_ctes() -> str:
    """Shared CTE chain: derived transcripts → word-boundary substring
    matches → island-merged mentions (the SQL mirror of the reference's
    adjacent-same-type span merging) → surfaces → alias transitive closure
    → canonical entities."""
    return f"""
WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL}),
terms(term, type) AS (VALUES {_terms_values()}),
raw_matches AS (
  SELECT t.conv_id, t.turn_idx, g.type, u.i - 1 AS m_start,
         u.i - 1 + length(g.term) AS m_end, t.text
  FROM transcripts t
  CROSS JOIN terms g,
  UNNEST(range(1, length(t.text) - length(g.term) + 2)) AS u(i)
  WHERE substr(lower(t.text), u.i, length(g.term)) = g.term
    AND (u.i = 1 OR NOT regexp_matches(substr(lower(t.text), u.i - 1, 1), '[a-z0-9]'))
    AND (u.i + length(g.term) > length(t.text)
         OR NOT regexp_matches(substr(lower(t.text), u.i + length(g.term), 1), '[a-z0-9]'))
),
flagged AS (
  -- conditional newline block rule mirrored from the engine (see mention_ctes)
  SELECT *, CASE WHEN lag(m_end) OVER w IS NULL THEN 1
                 WHEN regexp_matches(substr(text, lag(m_end) OVER w + 1,
                                             m_start - lag(m_end) OVER w),
                                     '^[[:space:]]*$')
                      AND NOT ((contains(substr(text, lag(m_end) OVER w + 1,
                                                m_start - lag(m_end) OVER w),
                                         chr(10))
                                OR contains(substr(text, lag(m_end) OVER w + 1,
                                                   m_start - lag(m_end) OVER w),
                                            chr(13)))
                               AND regexp_matches(substr(text, m_start + 1, 1),
                                                  '[A-Z]')) THEN 0
                 ELSE 1 END AS new_island
  FROM raw_matches
  WINDOW w AS (PARTITION BY conv_id, turn_idx, type ORDER BY m_start)
),
islands AS (
  SELECT *, sum(new_island) OVER (PARTITION BY conv_id, turn_idx, type
                                  ORDER BY m_start) AS island
  FROM flagged
),
mentions AS MATERIALIZED (
  SELECT conv_id, turn_idx, type,
         min(m_start)::INTEGER AS start, max(m_end)::INTEGER AS "end",
         substr(any_value(text), min(m_start) + 1, max(m_end) - min(m_start)) AS surface,
         -- engine normalize_surface: lowercase + collapse whitespace runs
         lower(regexp_replace(substr(any_value(text), min(m_start) + 1,
                                     max(m_end) - min(m_start)),
                              '[[:space:]]+', ' ', 'g'))
           AS surface_norm
  FROM islands
  GROUP BY conv_id, turn_idx, type, island
),
surfaces AS (SELECT DISTINCT surface_norm FROM mentions),
alias_pairs(a, b) AS (VALUES {_alias_values()}),
edges AS (
  SELECT p.a AS src, p.b AS dst FROM alias_pairs p
  JOIN surfaces s1 ON s1.surface_norm = p.a
  JOIN surfaces s2 ON s2.surface_norm = p.b
  UNION
  SELECT p.b, p.a FROM alias_pairs p
  JOIN surfaces s1 ON s1.surface_norm = p.a
  JOIN surfaces s2 ON s2.surface_norm = p.b
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT e.src, r.r FROM edges e JOIN reach r ON r.node = e.dst
),
canon AS MATERIALIZED (
  SELECT node, least(min(r), node) AS canonical FROM reach GROUP BY node
),
entities AS MATERIALIZED (
  SELECT s.surface_norm, coalesce(c.canonical, s.surface_norm) AS canonical_id
  FROM surfaces s LEFT JOIN canon c ON c.node = s.surface_norm
)
""".strip()


TRAINSET: dict[str, str] = {}  # filled below (needs the KG mention CTE)

KG: dict[str, str] = {
    "kg_mentions": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]}
SELECT conv_id, turn_idx, type, start, "end", surface, surface_norm
FROM mentions
    """,
    "kg_entities": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
stats AS (
  SELECT m.surface_norm, count(*)::BIGINT AS n_mentions,
         array_to_string(list_sort(list(DISTINCT m.type)), ',') AS types
  FROM mentions m GROUP BY m.surface_norm
)
SELECT e.canonical_id, e.surface_norm, s.n_mentions, s.types
FROM entities e JOIN stats s USING (surface_norm)
    """,
    "kg_edges": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]}
SELECT p.a AS src, p.b AS dst, 'alias' AS kind
FROM alias_pairs p
JOIN surfaces s1 ON s1.surface_norm = p.a
JOIN surfaces s2 ON s2.surface_norm = p.b
    """,
    "kg_triples": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
same_turn AS (
  SELECT a.conv_id, a.canonical_id AS subj, 'co_occurs_with' AS pred,
         b.canonical_id AS obj, a.turn_idx AS src_turn_idx
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
follows AS (
  SELECT DISTINCT a.conv_id, a.canonical_id AS subj, 'follows' AS pred,
         b.canonical_id AS obj, a.turn_idx AS src_turn_idx
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id
   AND b.turn_idx BETWEEN a.turn_idx - 2 AND a.turn_idx - 1
)
SELECT DISTINCT * FROM (
  SELECT * FROM same_turn UNION ALL SELECT * FROM follows
)
    """,
    # contrastive-embedding linking end-to-end: alias edges UNION
    # bigram-hash cosine edges (integer dot products, one double div/sqrt),
    # closure, min-surface canonical — mirrors linking.bigram_embedding_edges
    "kg_entities_embedding": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
bgall AS (
  SELECT surface_norm, substr('^' || surface_norm || '$', u.i, 2) AS b
  FROM surfaces,
  UNNEST(range(1, length('^' || surface_norm || '$'))) AS u(i)
),
vb AS (SELECT surface_norm, {duckdb_md5_int_sql("b")} % 32 AS k FROM bgall),
cnts AS (SELECT surface_norm, k, count(*)::BIGINT AS c FROM vb GROUP BY 1, 2),
norms AS (SELECT surface_norm, sum(c * c)::BIGINT AS n2 FROM cnts GROUP BY 1),
bgd AS (SELECT DISTINCT surface_norm, b FROM bgall),
bgdf AS (SELECT b, count(*) AS df FROM bgd GROUP BY b),
cand AS (
  SELECT DISTINCT x.surface_norm AS sa, y.surface_norm AS sb
  FROM bgd x
  JOIN bgdf f ON f.b = x.b AND f.df <= 1000
  JOIN bgd y ON y.b = x.b AND x.surface_norm < y.surface_norm
),
dots AS (
  SELECT c.sa, c.sb, sum(ca.c * cb.c)::BIGINT AS dot
  FROM cand c
  JOIN cnts ca ON ca.surface_norm = c.sa
  JOIN cnts cb ON cb.surface_norm = c.sb AND cb.k = ca.k
  GROUP BY c.sa, c.sb
),
emb_edges AS (
  SELECT d.sa AS src, d.sb AS dst
  FROM dots d
  JOIN norms na ON na.surface_norm = d.sa
  JOIN norms nb ON nb.surface_norm = d.sb
  WHERE d.dot / sqrt((na.n2 * nb.n2)::DOUBLE) >= 0.72
),
e2 AS (
  SELECT src, dst FROM edges
  UNION SELECT src, dst FROM emb_edges
  UNION SELECT dst, src FROM emb_edges
),
reach2 AS (
  SELECT src AS node, dst AS r FROM e2
  UNION
  SELECT e.src, r.r FROM e2 e JOIN reach2 r ON r.node = e.dst
),
canon2 AS (SELECT node, least(min(r), node) AS canonical FROM reach2 GROUP BY node),
ent2 AS (
  SELECT s.surface_norm, coalesce(c.canonical, s.surface_norm) AS canonical_id
  FROM surfaces s LEFT JOIN canon2 c ON c.node = s.surface_norm
),
stats2 AS (
  SELECT m.surface_norm, count(*)::BIGINT AS n_mentions,
         array_to_string(list_sort(list(DISTINCT m.type)), ',') AS types
  FROM mentions m GROUP BY m.surface_norm
)
SELECT e.canonical_id, e.surface_norm, s.n_mentions, s.types
FROM ent2 e JOIN stats2 s USING (surface_norm)
    """,
    "kg_embedding_components": """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_sum([a.v[d] * b.v[d] FOR d IN range(1, 65)])
        / (sqrt(list_sum([a.v[d] * a.v[d] FOR d IN range(1, 65)]))
           * sqrt(list_sum([b.v[d] * b.v[d] FOR d IN range(1, 65)]))) >= 0.3
),
edges AS (SELECT va AS src, vb AS dst FROM pairs
          UNION SELECT vb, va FROM pairs),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT e2.src, r.r FROM edges e2 JOIN reach r ON r.node = e2.dst
),
canon AS (SELECT node, least(min(r), node) AS component FROM reach GROUP BY node)
SELECT em.vec_id::BIGINT AS vec_id,
       coalesce(c.component, em.vec_id)::BIGINT AS component
FROM embeddings em LEFT JOIN canon c ON c.node = em.vec_id
    """,
    "kg_conv_summaries": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
linked AS (
  SELECT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
counts AS (
  SELECT conv_id, canonical_id, count(*) AS c FROM linked GROUP BY 1, 2
),
top AS (
  SELECT conv_id, canonical_id AS top_entity FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id
                                 ORDER BY c DESC, canonical_id) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT l.conv_id, count(*)::BIGINT AS n_mentions,
       count(DISTINCT l.turn_idx)::BIGINT AS n_turns,
       count(DISTINCT l.canonical_id)::BIGINT AS n_entities,
       any_value(t.top_entity) AS top_entity
FROM linked l JOIN top t ON t.conv_id = l.conv_id
GROUP BY l.conv_id
    """,
    "kg_entity_degrees": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT a.canonical_id AS subj, b.canonical_id AS obj
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
neighbors AS (
  SELECT subj AS ent, obj AS nbr FROM co
  UNION
  SELECT obj, subj FROM co
),
degree AS (SELECT ent, count(DISTINCT nbr)::BIGINT AS degree FROM neighbors GROUP BY ent),
mention_counts AS (
  SELECT e.canonical_id AS ent, count(*)::BIGINT AS n_mentions
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
  GROUP BY e.canonical_id
)
SELECT d.ent AS canonical_id, d.degree, m.n_mentions
FROM degree d JOIN mention_counts m ON m.ent = d.ent
ORDER BY d.degree DESC, canonical_id
    """,
    "kg_mention_eval": f"""
WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL}),
{mention_ctes("p_")},
{mention_ctes("g_", EVAL_GOLD_GAZETTEER)},
joined AS (
  SELECT coalesce(p.type, g.type) AS type,
         CASE WHEN p.type IS NOT NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
         CASE WHEN p.type IS NOT NULL AND g.type IS NULL THEN 1 ELSE 0 END AS is_fp,
         CASE WHEN p.type IS NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_fn
  FROM p_mentions p
  FULL OUTER JOIN g_mentions g
    ON p.conv_id = g.conv_id AND p.turn_idx = g.turn_idx AND p.type = g.type
   AND p.start = g.start AND p."end" = g."end"
)
SELECT type, sum(is_tp)::BIGINT AS tp, sum(is_fp)::BIGINT AS fp,
       sum(is_fn)::BIGINT AS fn,
       round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fp), 1), 6)::DOUBLE AS precision,
       round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fn), 1), 6)::DOUBLE AS recall
FROM joined GROUP BY type ORDER BY type
    """,
    # macro aggregation of the span-level eval (the RuNNE competition
    # protocol: unweighted mean over types; F1 from the rounded p/r exactly
    # as the engine computes it)
    "kg_mention_eval_macro": f"""
WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL}),
{mention_ctes("p_")},
{mention_ctes("g_", EVAL_GOLD_GAZETTEER)},
joined AS (
  SELECT coalesce(p.type, g.type) AS type,
         CASE WHEN p.type IS NOT NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
         CASE WHEN p.type IS NOT NULL AND g.type IS NULL THEN 1 ELSE 0 END AS is_fp,
         CASE WHEN p.type IS NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_fn
  FROM p_mentions p
  FULL OUTER JOIN g_mentions g
    ON p.conv_id = g.conv_id AND p.turn_idx = g.turn_idx AND p.type = g.type
   AND p.start = g.start AND p."end" = g."end"
),
per AS (
  SELECT type,
         round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fp), 1), 6)::DOUBLE AS precision,
         round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fn), 1), 6)::DOUBLE AS recall
  FROM joined GROUP BY type
),
scored AS (
  SELECT *,
         CASE WHEN precision + recall > 0
              THEN 2 * precision * recall / (precision + recall)
              ELSE 0.0 END AS f1
  FROM per
)
SELECT count(*)::BIGINT AS n_types,
       round(avg(precision), 6)::DOUBLE AS macro_precision,
       round(avg(recall), 6)::DOUBLE AS macro_recall,
       round(avg(f1), 6)::DOUBLE AS macro_f1
FROM scored
    """,
    "kg_role_triples": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
role_ents AS (
  SELECT DISTINCT m.conv_id, m.turn_idx, t.role, e.canonical_id
  FROM mentions m
  JOIN entities e ON e.surface_norm = m.surface_norm
  JOIN transcripts t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
)
SELECT u.conv_id, u.canonical_id AS subj, 'elicits' AS pred,
       a.canonical_id AS obj, u.turn_idx AS src_turn_idx
FROM role_ents u
JOIN role_ents a ON a.conv_id = u.conv_id AND a.turn_idx = u.turn_idx + 1
WHERE u.role = 'user' AND a.role = 'assistant'
  AND u.canonical_id <> a.canonical_id
    """,
    "kg_two_hop": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT DISTINCT a.canonical_id AS subj, b.canonical_id AS obj
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
nbrs AS MATERIALIZED (SELECT subj, obj FROM co UNION SELECT obj, subj FROM co),
one_hop AS (SELECT subj, count(DISTINCT obj)::BIGINT AS n_one_hop FROM nbrs GROUP BY subj),
expandable AS (SELECT subj FROM one_hop WHERE n_one_hop <= 10000),
two AS (
  SELECT t.subj, count(DISTINCT t.two_obj)::BIGINT AS n_two_hop_only FROM (
    SELECT a.subj, b.obj AS two_obj
    FROM nbrs a
    JOIN expandable x ON x.subj = a.obj
    JOIN nbrs b ON a.obj = b.subj
    WHERE a.subj <> b.obj
  ) t
  LEFT JOIN nbrs d ON d.subj = t.subj AND d.obj = t.two_obj
  WHERE d.subj IS NULL
  GROUP BY t.subj
)
SELECT o.subj AS canonical_id, o.n_one_hop,
       coalesce(t.n_two_hop_only, 0)::BIGINT AS n_two_hop_only
FROM one_hop o LEFT JOIN two t ON t.subj = o.subj
ORDER BY canonical_id
    """,
    "kg_type_freqs": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]}
SELECT type, count(*)::BIGINT AS freq
FROM mentions GROUP BY type ORDER BY freq DESC, type
    """,
    # replays operators/graph.py EXACTLY: quantized-integer PageRank, 3
    # unrolled iterations, scale 1e12, damping 85% — every step is int64
    # floor division/sum, so Spark and DuckDB agree bit-for-bit (mirrored
    # constants: scale, damping, iteration count)
    "kg_pagerank": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
nbrs AS MATERIALIZED (SELECT src, dst FROM co UNION SELECT dst, src FROM co),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM nbrs GROUP BY src),
nn AS (SELECT count(*)::BIGINT AS n FROM deg),
pr0 AS (SELECT d.src, (1000000000000 // n)::BIGINT AS pr_q, d.deg
        FROM deg d CROSS JOIN nn),
s1 AS (SELECT nb.dst AS src, sum(p.pr_q // p.deg)::BIGINT AS s
       FROM pr0 p JOIN nbrs nb ON nb.src = p.src GROUP BY nb.dst),
pr1 AS (SELECT d.src,
               ((1000000000000 * 15 // 100 // n)
                + (85 * coalesce(i.s, 0)) // 100)::BIGINT AS pr_q, d.deg
        FROM deg d CROSS JOIN nn LEFT JOIN s1 i ON i.src = d.src),
s2 AS (SELECT nb.dst AS src, sum(p.pr_q // p.deg)::BIGINT AS s
       FROM pr1 p JOIN nbrs nb ON nb.src = p.src GROUP BY nb.dst),
pr2 AS (SELECT d.src,
               ((1000000000000 * 15 // 100 // n)
                + (85 * coalesce(i.s, 0)) // 100)::BIGINT AS pr_q, d.deg
        FROM deg d CROSS JOIN nn LEFT JOIN s2 i ON i.src = d.src),
s3 AS (SELECT nb.dst AS src, sum(p.pr_q // p.deg)::BIGINT AS s
       FROM pr2 p JOIN nbrs nb ON nb.src = p.src GROUP BY nb.dst),
pr3 AS (SELECT d.src,
               ((1000000000000 * 15 // 100 // n)
                + (85 * coalesce(i.s, 0)) // 100)::BIGINT AS pr_q, d.deg
        FROM deg d CROSS JOIN nn LEFT JOIN s3 i ON i.src = d.src)
SELECT src AS canonical_id, pr_q FROM pr3 ORDER BY pr_q DESC, canonical_id
    """,
    # degree-ordered triangle counting: orient each undirected co-occurrence
    # edge from the (deg, id)-smaller endpoint, enumerate wedges at each
    # tail, close against the oriented edge set — the same construction as
    # graph.triangle_counts, so counts match integer-for-integer
    "kg_triangles": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
nbrs AS MATERIALIZED (SELECT src, dst FROM co UNION SELECT dst, src FROM co),
degx AS (SELECT src, count(*)::BIGINT AS deg FROM nbrs GROUP BY src),
ori AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.src < u.dst)
              THEN u.src ELSE u.dst END AS a,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.src < u.dst)
              THEN u.dst ELSE u.src END AS b
  FROM co u JOIN degx da ON da.src = u.src JOIN degx db ON db.src = u.dst
),
wedge AS (
  SELECT o1.a AS t, o1.b AS h1, o2.b AS h2
  FROM ori o1 JOIN ori o2 ON o2.a = o1.a AND o1.b <> o2.b
),
tri AS (
  SELECT w.t, w.h1, w.h2
  FROM wedge w JOIN ori o ON o.a = w.h1 AND o.b = w.h2
),
members AS (
  SELECT t AS node FROM tri
  UNION ALL SELECT h1 FROM tri
  UNION ALL SELECT h2 FROM tri
)
SELECT node AS canonical_id, count(*)::BIGINT AS n_triangles
FROM members GROUP BY node
ORDER BY n_triangles DESC, canonical_id
    """,
    # deterministic synchronous label propagation, 4 unrolled rounds: each
    # node adopts its neighbors' most frequent label, ties to the minimum —
    # mirrors graph.label_propagation round for round
    "kg_communities": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
nbrs AS MATERIALIZED (SELECT src, dst FROM co UNION SELECT dst, src FROM co),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM nbrs),
c1 AS (SELECT e.dst AS node, l.lab, count(*) AS c
       FROM nbrs e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
l1 AS (SELECT node, lab FROM c1
       QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1),
c2 AS (SELECT e.dst AS node, l.lab, count(*) AS c
       FROM nbrs e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
l2 AS (SELECT node, lab FROM c2
       QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1),
c3 AS (SELECT e.dst AS node, l.lab, count(*) AS c
       FROM nbrs e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
l3 AS (SELECT node, lab FROM c3
       QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1),
c4 AS (SELECT e.dst AS node, l.lab, count(*) AS c
       FROM nbrs e JOIN l3 l ON l.node = e.src GROUP BY 1, 2),
l4 AS (SELECT node, lab FROM c4
       QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1)
SELECT node AS canonical_id, lab AS community
FROM l4 ORDER BY community, canonical_id
    """,
    # lexical-bridge predicate: first [A-Za-z]+ token of the inter-mention
    # text, bridges capped at 40 chars — mirrored from the engine
    "kg_verb_predicates": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
ment AS (
  SELECT m.conv_id, m.turn_idx, e.canonical_id, m.start, m."end"
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
pairs AS (
  SELECT a.conv_id, a.turn_idx, a.canonical_id AS subj, b.canonical_id AS obj,
         a."end" AS gap_start, b.start AS gap_end
  FROM ment a JOIN ment b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a."end" <= b.start AND a.canonical_id <> b.canonical_id
  WHERE b.start - a."end" <= 40
),
bridged AS (
  SELECT p.conv_id, p.subj,
         lower(regexp_extract(
           substr(t.text, p.gap_start + 1, p.gap_end - p.gap_start),
           '[A-Za-z]+')) AS pred,
         p.obj, p.turn_idx AS src_turn_idx
  FROM pairs p
  JOIN transcripts t ON t.conv_id = p.conv_id AND t.turn_idx = p.turn_idx
)
SELECT DISTINCT conv_id, subj, pred, obj, src_turn_idx
FROM bridged WHERE pred <> ''
ORDER BY conv_id, src_turn_idx, subj, pred, obj
    """,
    # integer-exact floor(log2) via length(bin(x))-1 on both engines
    "kg_degree_histogram": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
turn_ents AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.turn_idx, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
co AS MATERIALIZED (
  SELECT DISTINCT a.canonical_id AS src, b.canonical_id AS dst
  FROM turn_ents a JOIN turn_ents b
    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
   AND a.canonical_id < b.canonical_id
),
nbrs AS MATERIALIZED (SELECT src, dst FROM co UNION SELECT dst, src FROM co),
deg AS (SELECT src, count(*)::BIGINT AS degree FROM nbrs GROUP BY src)
SELECT (length(bin(degree)) - 1)::BIGINT AS bucket,
       count(*)::BIGINT AS n_entities,
       min(degree)::BIGINT AS min_degree,
       max(degree)::BIGINT AS max_degree
FROM deg GROUP BY bucket ORDER BY bucket
    """,
    # corrupt-tail negative sampling replay: portable md5 index mod n with
    # step-on-collision — mirrored hash contract (hashing.py)
    # staged integer division mirrored from the engine: ((c_ab*1e6) DIV
    # c_a) * n DIV c_b — exact-match contract, bounded magnitude
    "kg_edge_lift": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
conv_ents AS (
  SELECT DISTINCT m.conv_id, e.canonical_id
  FROM mentions m JOIN entities e ON e.surface_norm = m.surface_norm
),
nn AS (SELECT count(DISTINCT conv_id)::BIGINT AS n FROM conv_ents),
counts AS (SELECT canonical_id, count(*)::BIGINT AS c
           FROM conv_ents GROUP BY canonical_id),
pairs AS (
  SELECT a.canonical_id AS subj, b.canonical_id AS obj,
         count(*)::BIGINT AS n_convs_both
  FROM conv_ents a JOIN conv_ents b
    ON a.conv_id = b.conv_id AND a.canonical_id < b.canonical_id
  GROUP BY a.canonical_id, b.canonical_id
)
SELECT p.subj, p.obj, p.n_convs_both,
       (((p.n_convs_both * 1000000) // cs.c) * nn.n // co.c)::BIGINT AS lift_ppm
FROM pairs p
JOIN counts cs ON cs.canonical_id = p.subj
JOIN counts co ON co.canonical_id = p.obj
CROSS JOIN nn
ORDER BY lift_ppm DESC, subj, obj
    """,
    "kg_entity_lifespans": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
ment_ts AS (
  SELECT e.canonical_id, m.conv_id, m.turn_idx, t.ts
  FROM mentions m
  JOIN entities e ON e.surface_norm = m.surface_norm
  JOIN transcripts t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
)
SELECT canonical_id,
       epoch(min(ts))::BIGINT AS first_seen,
       epoch(max(ts))::BIGINT AS last_seen,
       (epoch(max(ts)) - epoch(min(ts)))::BIGINT AS active_sec,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       count(DISTINCT (conv_id, turn_idx))::BIGINT AS n_turns
FROM ment_ts GROUP BY canonical_id ORDER BY canonical_id
    """,
}

def subtok_ctes() -> str:
    """CTE chain deriving the engine tokenizer's subtoken inventory (docs →
    words → char-offset subtokens → 128-chunked, md5 token ids) in pure SQL;
    shared by the trainset oracles and the token-level mention-eval oracle.
    Appended after a CTE chain that defines ``transcripts``.

    Valid on the driver corpus's input domain (asserted by
    tests/test_trainset_multimodal.py): single-line, single-spaced,
    no-leading/trailing-whitespace ASCII text — there the engine's
    sentenizer returns exactly one sentence (= the whole turn, offsets
    unrebased) and its Unicode word regex degenerates to space-splitting, so
    the tokenizer (fixed-width 4-char subword pieces, '##' continuations,
    md5-derived token ids mod 30522), the per-type {O,START,END,MIDDLE,
    START-END} class planes, and the 128-subtoken chunking are all
    SQL-expressible."""
    type_values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(ENTITY_TYPES))
    return f"""
docs AS (
  SELECT ('0x' || substr(md5(conv_id || ':' || turn_idx), 1, 15))::BIGINT AS id,
         conv_id, turn_idx, text
  FROM transcripts
),
words AS (
  SELECT id, word_arr[i.i::INT] AS word, i.i::INT AS widx
  FROM (SELECT id, string_split(text, ' ') AS word_arr FROM docs) t,
       UNNEST(range(1, len(word_arr) + 1)) AS i(i)
),
wstarts AS (
  SELECT *, (sum(length(word) + 1) OVER (PARTITION BY id ORDER BY widx)
             - length(word) - 1)::INT AS wstart
  FROM words
),
subtoks AS (
  SELECT id, widx, p.i AS k,
         CASE WHEN p.i = 0 THEN substr(word, 1, 4)
              ELSE '##' || substr(word, p.i * 4 + 1, 4) END AS piece,
         wstart + p.i * 4 AS b0,
         wstart + p.i * 4 + length(substr(word, p.i * 4 + 1, 4)) AS b1
  FROM wstarts, UNNEST(range(0, ceil(length(word) / 4.0)::BIGINT)) AS p(i)
),
chunked AS (
  SELECT *, (s // 128)::INT AS chunk_idx, (s % 128)::INT AS pos,
         ('0x' || substr(md5(piece), 1, 8))::BIGINT % 30522 AS tok_id
  FROM (SELECT *, (row_number() OVER (PARTITION BY id ORDER BY widx, k) - 1)::INT AS s
        FROM subtoks)
)
""".strip()


def trainset_ctes() -> str:
    """Label/pair CTEs of the NER tensor trainset (operators/trainset.py
    build_ner_trainset), appended after ``kg_common_ctes()``; includes
    ``subtok_ctes``."""
    type_values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(ENTITY_TYPES))
    return f"""
{subtok_ctes()},
m2 AS (
  SELECT d.id, m.type, m.start AS m_start, m."end" AS m_end
  FROM mentions m JOIN docs d ON d.conv_id = m.conv_id AND d.turn_idx = m.turn_idx
),
covered AS (
  SELECT c.id, m2.type, m2.m_start, c.s
  FROM chunked c JOIN m2 ON m2.id = c.id AND c.b0 >= m2.m_start AND c.b1 <= m2.m_end
),
runs AS (
  SELECT id, type, m_start, min(s) AS first_s, max(s) AS last_s
  FROM covered GROUP BY id, type, m_start
),
cls AS (
  SELECT c.id, c.type, c.s,
         CASE WHEN r.first_s = r.last_s THEN 4
              WHEN c.s = r.first_s THEN 1
              WHEN c.s = r.last_s THEN 2
              ELSE 3 END AS cls
  FROM covered c
  JOIN runs r ON r.id = c.id AND r.type = c.type AND r.m_start = c.m_start
),
types(t_idx, type) AS (VALUES {type_values}),
planes AS (
  SELECT ch.id, ch.chunk_idx, ty.t_idx,
         string_agg(coalesce(cl.cls, 0)::VARCHAR, ',' ORDER BY ch.pos) AS plane
  FROM chunked ch CROSS JOIN types ty
  LEFT JOIN cls cl ON cl.id = ch.id AND cl.s = ch.s AND cl.type = ty.type
  GROUP BY ch.id, ch.chunk_idx, ty.t_idx
),
plane_agg AS (
  SELECT id, chunk_idx, string_agg(plane, '|' ORDER BY t_idx) AS labels_str
  FROM planes GROUP BY id, chunk_idx
),
pieces_agg AS (
  SELECT id, chunk_idx,
         string_agg(piece, ' ' ORDER BY pos) AS pieces_str,
         string_agg(tok_id::VARCHAR, ',' ORDER BY pos) AS token_ids_str
  FROM chunked GROUP BY id, chunk_idx
)
""".strip()


TRAINSET.update(
    {
        "tr_span_inventory": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]}
SELECT type, count(*)::BIGINT AS n_spans,
       count(DISTINCT surface_norm)::BIGINT AS n_surfaces,
       min("end" - start)::BIGINT AS min_len,
       max("end" - start)::BIGINT AS max_len
FROM mentions GROUP BY type ORDER BY type
        """,
        "tr_siamese_pairs": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
keyed AS (
  SELECT type,
         ('0x' || substr(md5(conv_id || ':' || turn_idx || ':' || type || ':' || start),
                         1, 15))::BIGINT AS key
  FROM mentions
),
sel AS (
  SELECT type, key FROM (
    SELECT *, row_number() OVER (PARTITION BY type ORDER BY key) AS rn FROM keyed
  ) WHERE rn <= 20
)
SELECT a.type AS type_a, a.key AS key_a, b.type AS type_b, b.key AS key_b,
       1::INTEGER AS label
FROM sel a JOIN sel b ON a.type = b.type AND a.key < b.key
UNION ALL
SELECT a.type, a.key, b.type, b.key, 0::INTEGER
FROM sel a JOIN sel b ON a.type < b.type AND (a.key + b.key) % 10 < 3
        """,
        "tr_max_seq_len": f"""
WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL})
SELECT max(n)::BIGINT AS max_seq_len, round(avg(n), 4)::DOUBLE AS avg_seq_len
FROM (
  SELECT list_sum(list_prepend(0::BIGINT,
           [ceil(length(t) / 4.0)::BIGINT
            FOR t IN regexp_extract_all(text, '[^\\W_]+|[^\\s\\w]|_')])) AS n
  FROM transcripts
)
        """,
    }
)

TRAINSET.update(
    {
        "tr_ner_trainset": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
{trainset_ctes()}
SELECT p.id, 0::INT AS sent_idx, p.chunk_idx, p.pieces_str, p.token_ids_str,
       l.labels_str
FROM pieces_agg p JOIN plane_agg l USING (id, chunk_idx)
        """,
        "tr_siamese_tensors": f"""
WITH RECURSIVE placeholder AS (SELECT 1),
{kg_common_ctes()[5:]},
{trainset_ctes()},
span_rows AS (
  SELECT r.id, r.type, c.c::INT AS chunk_idx,
         (greatest(r.first_s, c.c * 128) - c.c * 128)::INT AS sub_start,
         (least(r.last_s, c.c * 128 + 127) - c.c * 128 + 1)::INT AS sub_end
  FROM runs r, UNNEST(range(r.first_s // 128, r.last_s // 128 + 1)) AS c(c)
),
chunk_len AS (SELECT id, chunk_idx, count(*) AS n FROM chunked GROUP BY id, chunk_idx),
keyed AS (
  SELECT sr.*, pa.token_ids_str AS ids_str,
         array_to_string([CASE WHEN i - 1 >= sr.sub_start AND i - 1 < sr.sub_end
                               THEN 1 ELSE 0 END
                          FOR i IN range(1, cl.n + 1)], ',') AS mask_str,
         ('0x' || substr(md5(sr.id::VARCHAR || ':0:' || sr.chunk_idx::VARCHAR
                             || ':' || sr.type || ':' || sr.sub_start::VARCHAR),
                         1, 15))::BIGINT AS key
  FROM span_rows sr
  JOIN chunk_len cl ON cl.id = sr.id AND cl.chunk_idx = sr.chunk_idx
  JOIN pieces_agg pa ON pa.id = sr.id AND pa.chunk_idx = sr.chunk_idx
),
sel AS (
  SELECT type, key, ids_str, mask_str FROM (
    SELECT *, row_number() OVER (PARTITION BY type ORDER BY key) AS rn FROM keyed
  ) WHERE rn <= 10
)
SELECT a.ids_str AS left_ids_str, a.mask_str AS left_mask_str,
       b.ids_str AS right_ids_str, b.mask_str AS right_mask_str, 1::INT AS label
FROM sel a JOIN sel b ON a.type = b.type AND a.key < b.key
UNION ALL
SELECT a.ids_str, a.mask_str, b.ids_str, b.mask_str, 0::INT
FROM sel a JOIN sel b ON a.type < b.type AND (a.key + b.key) % 10 < 3
        """,
    }
)

# token-level A5 parity: the reference metric binarizes per-token labels
# to entity-vs-O per type plane and computes micro P/R over tokens
# (neural_network/utils.py:143-180); here a token is one engine subtoken
# and coverage is the mention interval test b0 >= start AND b1 <= end
    
KG["kg_mention_eval_token"] = f"""
WITH transcripts AS ({DUCKDB_TRANSCRIPTS_SQL}),
{mention_ctes("p_")},
{mention_ctes("g_", EVAL_GOLD_GAZETTEER)},
{subtok_ctes()},
p_cov AS (
  SELECT DISTINCT d.conv_id, d.turn_idx, m.type, c.b0
  FROM chunked c JOIN docs d ON d.id = c.id
  JOIN p_mentions m ON m.conv_id = d.conv_id AND m.turn_idx = d.turn_idx
   AND c.b0 >= m.start AND c.b1 <= m."end"
),
g_cov AS (
  SELECT DISTINCT d.conv_id, d.turn_idx, m.type, c.b0
  FROM chunked c JOIN docs d ON d.id = c.id
  JOIN g_mentions m ON m.conv_id = d.conv_id AND m.turn_idx = d.turn_idx
   AND c.b0 >= m.start AND c.b1 <= m."end"
),
joined AS (
  SELECT coalesce(p.type, g.type) AS type,
         CASE WHEN p.type IS NOT NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
         CASE WHEN p.type IS NOT NULL AND g.type IS NULL THEN 1 ELSE 0 END AS is_fp,
         CASE WHEN p.type IS NULL AND g.type IS NOT NULL THEN 1 ELSE 0 END AS is_fn
  FROM p_cov p
  FULL OUTER JOIN g_cov g
    ON p.conv_id = g.conv_id AND p.turn_idx = g.turn_idx AND p.type = g.type
   AND p.b0 = g.b0
)
SELECT type, sum(is_tp)::BIGINT AS tp, sum(is_fp)::BIGINT AS fp,
       sum(is_fn)::BIGINT AS fn,
       round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fp), 1), 6)::DOUBLE AS precision,
       round(sum(is_tp) / greatest(sum(is_tp) + sum(is_fn), 1), 6)::DOUBLE AS recall
FROM joined GROUP BY type ORDER BY type
    """
