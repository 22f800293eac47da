"""ANSI-SQL oracle generators for the driver's DuckDB correctness gate.

Iterative algorithms (PageRank, hash-min connected components, label
propagation) are not expressible as single SQL statements at unbounded
depth, but their *fixed-iteration* forms unroll mechanically into a
chain of CTEs — one per superstep — that DuckDB executes exactly.  The
Spark engine runs the same fixed number of supersteps with the same
arithmetic for the gated queries, so values match (floats compared
after identical ROUNDing on both sides).

All generators assume the canonical views/CTEs from
:mod:`graphjet_spark.sources.testdata` (``interactions``,
``graph_edges``) are in scope via :func:`testdata.oracle_cte`.
"""

from __future__ import annotations

import pandas as pd

from graphjet_spark.functions.webtext import (
    _ANCHOR_RE,
    _HREF_RE,
    canonicalize_url,
    decode_html,
)
from graphjet_spark.sources.testdata import oracle_cte

# Shared simple-graph prelude over graph_edges.
GRAPH_PRELUDE = """
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM graph_edges),
v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
sym AS MATERIALIZED (SELECT src AS a, dst AS b FROM e WHERE src <> dst
        UNION SELECT dst, src FROM e WHERE src <> dst)
"""


def pagerank_fixed_sql(iters: int, damping: float = 0.85, round_to: int = 4) -> str:
    """Unrolled power-iteration PageRank; output (id, pagerank_n) where
    pagerank_n = rank * N rounded — normalized so rounding granularity is
    scale-free."""
    d = damping
    parts = [
        "r0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM v)",
    ]
    for i in range(iters):
        p, c = f"r{i}", f"r{i + 1}"
        parts.append(
            f"""d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {p}
  LEFT JOIN od ON {p}.id = od.src WHERE od.src IS NULL)"""
        )
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {d})/(SELECT n FROM nn) + {d}*(SELECT dm FROM d{i})/(SELECT n FROM nn)
         + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.deg) AS contrib
    FROM {p} r JOIN e ON r.id = e.src JOIN od ON e.src = od.src
    GROUP BY e.dst
  ) c ON v.id = c.id)"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"\nSELECT id, ROUND(rank * (SELECT n FROM nn), {round_to}) AS pagerank_n"
        + f" FROM r{iters}"
    )


def pagerank_weighted_fixed_sql(
    iters: int, damping: float = 0.85, round_to: int = 4
) -> str:
    """Unrolled WEIGHTED PageRank over the interactions multigraph:
    multi-edges collapse by summing weights, transitions are
    weight-proportional (rank * w / out_weight), dangling mass uniform.
    Output (id, pagerank_n) = rank * N rounded."""
    d = damping
    parts = [
        """we AS MATERIALIZED (
  SELECT src, dst, SUM(weight) AS w FROM interactions GROUP BY src, dst)""",
        """wv AS MATERIALIZED (
  SELECT src AS id FROM we UNION SELECT dst AS id FROM we)""",
        "wn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM wv)",
        """wod AS MATERIALIZED (
  SELECT src, SUM(w) AS deg FROM we GROUP BY src)""",
        "w0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM wn) AS rank FROM wv)",
    ]
    for i in range(iters):
        p, c = f"w{i}", f"w{i + 1}"
        parts.append(
            f"""wd{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {p}
  LEFT JOIN wod ON {p}.id = wod.src WHERE wod.src IS NULL)"""
        )
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT wv.id,
         (1.0 - {d})/(SELECT n FROM wn) + {d}*(SELECT dm FROM wd{i})/(SELECT n FROM wn)
         + {d} * COALESCE(cb.contrib, 0.0) AS rank
  FROM wv LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank * e.w / od.deg) AS contrib
    FROM {p} r JOIN we e ON r.id = e.src JOIN wod od ON e.src = od.src
    GROUP BY e.dst
  ) cb ON wv.id = cb.id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(rank * (SELECT n FROM wn), {round_to}) AS pagerank_n"
        + f" FROM w{iters}"
    )


def _ppr_parts(
    iters: int, seeds: dict[int, float], damping: float
) -> list[str]:
    """Shared unrolled personalized-PageRank CTE chain (final vector in
    ``p{iters}`` with column ``rank``)."""
    d = damping
    total = float(sum(seeds.values()))
    vals = ", ".join(
        f"(CAST({int(v)} AS BIGINT), CAST({w / total!r} AS DOUBLE))"
        for v, w in sorted(seeds.items())
    )
    parts = [
        f"seedp AS MATERIALIZED (SELECT * FROM (VALUES {vals}) s(id, p))",
        # renormalize over the mass surviving the vertex join (mirrors
        # plans/pagerank.py — seeds absent from the graph are dropped
        # and the distribution re-sums to 1)
        """pvec0 AS MATERIALIZED (
  SELECT v.id, COALESCE(seedp.p, 0.0) AS p
  FROM v LEFT JOIN seedp ON v.id = seedp.id)""",
        """pvec AS MATERIALIZED (
  SELECT id, CASE WHEN (SELECT SUM(p) FROM pvec0) < 1.0 - 1e-12
             THEN p / (SELECT SUM(p) FROM pvec0) ELSE p END AS p
  FROM pvec0)""",
        "p0 AS MATERIALIZED (SELECT id, p AS rank FROM pvec)",
    ]
    for i in range(iters):
        prev, cur = f"p{i}", f"p{i + 1}"
        parts.append(
            f"""pd{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM {prev}
  LEFT JOIN od ON {prev}.id = od.src WHERE od.src IS NULL)"""
        )
        parts.append(
            f"""{cur} AS MATERIALIZED (
  SELECT pvec.id,
         pvec.p * ((1.0 - {d}) + {d} * (SELECT dm FROM pd{i}))
         + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM pvec LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.deg) AS contrib
    FROM {prev} r JOIN e ON r.id = e.src JOIN od ON e.src = od.src
    GROUP BY e.dst
  ) c ON pvec.id = c.id)"""
        )
    return parts


def personalized_pagerank_fixed_sql(
    iters: int,
    seeds: dict[int, float],
    damping: float = 0.85,
    round_to: int = 9,
) -> str:
    """Unrolled personalized PageRank: restart + dangling mass follow
    the normalized seed distribution; init = that distribution.
    Output (id, ppr) rounded."""
    body = ",\n".join(_ppr_parts(iters, seeds, damping))
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"\nSELECT id, ROUND(rank, {round_to}) AS ppr FROM p{iters}"
    )


def ppr_sweep_sql(
    iters: int,
    seeds: dict[int, float],
    k: int,
    damping: float = 0.85,
    round_to: int = 9,
) -> str:
    """Twin of plans/sweepcut.py::ppr_sweep_cut — the unrolled PPR
    chain, then the conductance sweep over the top-k (score DESC, id)
    prefix order.  cut/vol are exact BIGINTs; conductance is the one
    DOUBLE division, rounded like the engine."""
    parts = _ppr_parts(iters, seeds, damping)
    parts.append(
        "sdg AS MATERIALIZED "
        "(SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY a)"
    )
    parts.append(
        f"""sc AS MATERIALIZED (
  SELECT p.id, ROUND(p.rank / d.deg, {round_to}) AS score, d.deg
  FROM p{iters} p JOIN sdg d ON p.id = d.id WHERE p.rank > 0)"""
    )
    parts.append(
        f"""tk AS MATERIALIZED (
  SELECT id, score, deg,
         ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rk
  FROM sc ORDER BY score DESC, id ASC LIMIT {k})"""
    )
    parts.append(
        "tv AS MATERIALIZED (SELECT COUNT(*) AS tvol FROM sym)"
    )
    parts.append(
        """ie AS MATERIALIZED (
  SELECT GREATEST(ra.rk, rb.rk) AS mr, COUNT(*) AS n_int
  FROM sym s JOIN tk ra ON s.a = ra.id JOIN tk rb ON s.b = rb.id
  WHERE s.a < s.b GROUP BY 1)"""
    )
    parts.append(
        """prof AS MATERIALIZED (
  SELECT t.rk, t.id, t.score,
         SUM(t.deg) OVER (ORDER BY t.rk) AS vol,
         SUM(COALESCE(i.n_int, 0)) OVER (ORDER BY t.rk) AS internal
  FROM tk t LEFT JOIN ie i ON t.rk = i.mr)"""
    )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT rk AS rank, id, score,
       CASE WHEN LEAST(vol, (SELECT tvol FROM tv) - vol) > 0
            THEN ROUND(CAST(vol - 2 * internal AS DOUBLE)
                       / LEAST(vol, (SELECT tvol FROM tv) - vol),
                       {round_to})
            END AS conductance
FROM prof"""
    )


def bfs_fixed_sql(source: int, iters: int) -> str:
    """Unrolled single-source directed BFS: each round relaxes the
    reached set one hop.  Output (id, dist)."""
    parts = [
        f"b0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS id, 0 AS dist)"
    ]
    for i in range(iters):
        p, c = f"b{i}", f"b{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS INT) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT e.dst AS id, b.dist + 1 AS dist
    FROM {p} b JOIN e ON b.id = e.src
  ) GROUP BY id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT id, dist FROM b{iters}"
    )


def hits_fixed_sql(iters: int, round_to: int = 9) -> str:
    """Unrolled HITS with deferred L1 normalization (identical to the
    engine: per iteration authority = in-edge hub sum, hub = out-edge
    authority sum; each vector divided by its total once at the end).
    Output (id, hub, authority) rounded."""
    parts = [
        "h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM v)",
    ]
    for i in range(iters):
        hp, a, hn = f"h{i}", f"a{i + 1}", f"h{i + 1}"
        parts.append(
            f"""{a} AS MATERIALIZED (
  SELECT e.dst AS id, SUM(r.h) AS a
  FROM {hp} r JOIN e ON r.id = e.src GROUP BY e.dst)"""
        )
        parts.append(
            f"""{hn} AS MATERIALIZED (
  SELECT e.src AS id, SUM(r.a) AS h
  FROM {a} r JOIN e ON r.id = e.dst GROUP BY e.src)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT v.id,
       ROUND(COALESCE(h.h, 0.0) / (SELECT SUM(h) FROM h{iters}), {round_to})
         AS hub,
       ROUND(COALESCE(a.a, 0.0) / (SELECT SUM(a) FROM a{iters}), {round_to})
         AS authority
FROM v LEFT JOIN h{iters} h ON v.id = h.id
LEFT JOIN a{iters} a ON v.id = a.id"""
    )


def connected_components_fixed_sql(iters: int) -> str:
    """Unrolled hash-min label flooding; output (id, component)."""
    parts = ["c0 AS MATERIALIZED (SELECT id, id AS comp FROM v)"]
    for i in range(iters):
        p, c = f"c{i}", f"c{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT cur.id, LEAST(cur.comp, COALESCE(m.mn, cur.comp)) AS comp
  FROM {p} cur LEFT JOIN (
    SELECT s.a AS id, MIN(n.comp) AS mn
    FROM sym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a
  ) m ON cur.id = m.id)"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"\nSELECT id, comp AS component FROM c{iters}"
    )


def k_core_fixed_sql(k: int, iters: int) -> str:
    """Unrolled k-core peeling: each round keeps vertices whose degree
    within the surviving subgraph is >= k.  Output (id)."""
    parts = ["s0 AS MATERIALIZED (SELECT id FROM v)"]
    for i in range(iters):
        p, c = f"s{i}", f"s{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT a AS id FROM sym
  WHERE a IN (SELECT id FROM {p}) AND b IN (SELECT id FROM {p})
  GROUP BY a HAVING COUNT(*) >= {k})"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"\nSELECT id FROM s{iters}"
    )


def label_propagation_fixed_sql(iters: int) -> str:
    """Unrolled synchronous label propagation, deterministic tie-break
    (highest neighbor-label count, then smallest label); isolated-free
    graph (every vertex in ``v`` has a ``sym`` neighbor).  Output
    (id, label)."""
    parts = ["l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v)"]
    for i in range(iters):
        p, c = f"l{i}", f"l{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT id, lbl FROM (
    SELECT s.a AS id, n.lbl,
           ROW_NUMBER() OVER (
             PARTITION BY s.a
             ORDER BY COUNT(*) DESC, n.lbl ASC) AS rn
    FROM sym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a, n.lbl
  ) t WHERE rn = 1)"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"\nSELECT id, lbl AS label FROM l{iters}"
    )


# Top-k parts by interaction degree — the deterministic query/seed pick
# shared with the Spark wrappers in __spark_entry__ (_top_parts).
_TOP_PARTS = """
tp AS MATERIALIZED (
  SELECT dst AS t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, dst ASC) AS rk
  FROM interactions GROUP BY dst
  QUALIFY rk <= {k})
"""


_SIMILARITY_PRELUDE = """
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM interactions),
outd AS MATERIALIZED (SELECT src, COUNT(*) AS ldeg FROM e GROUP BY src),
ind AS MATERIALIZED (SELECT dst, COUNT(*) AS rdeg FROM e GROUP BY dst),
lw AS MATERIALIZED (
  SELECT e.src, CAST(COUNT(DISTINCT tp.t) AS DOUBLE) AS weight
  FROM e JOIN tp ON e.dst = tp.t GROUP BY e.src),
hops AS MATERIALIZED (
  SELECT DISTINCT e.src, e.dst, lw.weight, outd.ldeg
  FROM e JOIN lw ON e.src = lw.src JOIN outd ON e.src = outd.src),
cooc AS MATERIALIZED (
  SELECT dst, SUM(weight * ({contrib})) AS wc,
         CAST(SUM(weight) AS BIGINT) AS raw
  FROM hops GROUP BY dst),
qdeg AS MATERIALIZED (
  SELECT CAST(ind.rdeg AS DOUBLE) AS qd FROM ind JOIN tp ON ind.dst = tp.t
  WHERE tp.rk = 1)
"""


def _similarity_sql(
    score_expr: str,
    min_cooccurrence: int,
    round_to: int,
    contrib: str = "1.0",
) -> str:
    """Shared skeleton for the intersection-similarity oracles: the
    weighted co-occurrence accumulates ``weight * contrib(ldeg)`` (the
    reference's f), the raw count accumulates plain weight, and
    ``score_expr`` applies the reference's g over (wc, rdeg, qd); full
    candidate set (no top-k so the gate is limit-stable)."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + _TOP_PARTS.format(k=3).strip()
        + ",\n"
        + _SIMILARITY_PRELUDE.format(contrib=contrib).strip()
        + f"""
SELECT cooc.dst AS id,
       ROUND({score_expr}, {round_to}) AS score,
       raw AS cooccurrence,
       CAST(ind.rdeg AS BIGINT) AS degree
FROM cooc JOIN ind ON cooc.dst = ind.dst
WHERE raw >= {min_cooccurrence}
""".rstrip()
    )


def similarity_cosine_sql(min_cooccurrence: int = 2, round_to: int = 6) -> str:
    """IntersectionSimilarity (cosine) vs query=top-1 part, seeds=top-2/3
    parts (intersection/CosineUpdateNormalization.java:47-50)."""
    return _similarity_sql("wc / SQRT(ind.rdeg)", min_cooccurrence, round_to)


def similarity_jaccard_sql(min_cooccurrence: int = 2, round_to: int = 6) -> str:
    """Jaccard normalization: score = wc / (rdeg + qdeg - wc)
    (intersection/JaccardUpdateNormalization.java:47)."""
    return _similarity_sql(
        "wc / (ind.rdeg + (SELECT qd FROM qdeg) - wc)", min_cooccurrence, round_to
    )


def similarity_overlap_sql(min_cooccurrence: int = 2, round_to: int = 6) -> str:
    """Overlap normalization: f = 1, g = 1, so the score IS the weighted
    co-occurrence (intersection/OverlapUpdateNormalization.java:34,48)."""
    return _similarity_sql("wc", min_cooccurrence, round_to)


def similarity_inverse_degree_sql(
    min_cooccurrence: int = 2, round_to: int = 6
) -> str:
    """Inverse-degree normalization: f = 1/left_degree, g = 1
    (intersection/InverseDegreeUpdateNormalization.java:34,47)."""
    return _similarity_sql("wc", min_cooccurrence, round_to, contrib="1.0/ldeg")


def similarity_scaled_sql(min_cooccurrence: int = 2, round_to: int = 6) -> str:
    """Scaled normalization: f = ln(2)/ln(left_degree) (zeroed at degree
    1 where it would be infinite, IntersectionSimilarity.java:147),
    g = 1/(sqrt(rdeg) * sqrt(|rdeg - qdeg| + 1))
    (intersection/ScaledUpdateNormalization.java:36,50)."""
    return _similarity_sql(
        "wc / (SQRT(ind.rdeg) * SQRT(ABS(ind.rdeg - (SELECT qd FROM qdeg)) + 1.0))",
        min_cooccurrence,
        round_to,
        contrib="CASE WHEN ldeg = 1 THEN 0.0 ELSE 0.6931471805599453 / LN(ldeg) END",
    )


def second_degree_sql(
    max_edges_per_node: int = 500,
    k: int = 20,
    tweet_proof_type: int | None = None,
    min_user_social_proof_size: int | None = None,
    n_seeds: int = 3,
) -> str:
    """TopSecondDegreeByCount, seeds customers {1..n_seeds} weight 1.0;
    exact double weights so the top-k boundary is deterministic.
    Optional tweet-rec business rules
    (TopSecondDegreeByCountTweetRecsGenerator.java:118-165): require a
    non-"tweet"-type proof and a per-type distinct-user proof floor."""
    rules = ""
    where = ""
    if tweet_proof_type is not None or min_user_social_proof_size is not None:
        conds = []
        if tweet_proof_type is not None:
            conds.append(
                f"MAX(CASE WHEN edge_type <> {tweet_proof_type} THEN 1 ELSE 0 END) = 1"
            )
        if min_user_social_proof_size is not None:
            conds.append(f"MAX(n_users) >= {min_user_social_proof_size}")
        rules = f""",
per_type AS MATERIALIZED (
  SELECT dst, edge_type, COUNT(*) AS n_users FROM ded GROUP BY dst, edge_type),
keep AS MATERIALIZED (
  SELECT dst FROM per_type GROUP BY dst
  HAVING {' AND '.join(conds)})"""
        where = "WHERE dst IN (SELECT dst FROM keep)\n"
    return (
        oracle_cte().rstrip()
        + ",\n"
        + f"""
seeds AS MATERIALIZED (SELECT * FROM (VALUES
  {", ".join(f"(CAST({s} AS BIGINT), CAST(1.0 AS DOUBLE))" for s in range(1, n_seeds + 1))}
  ) s(src, seed_weight)),
latest AS MATERIALIZED (
  SELECT src, dst, edge_type, seed_weight FROM (
    SELECT i.src, i.dst, i.edge_type, s.seed_weight,
           ROW_NUMBER() OVER (PARTITION BY i.src ORDER BY i.seq DESC) AS rn
    FROM interactions i JOIN seeds s ON i.src = s.src
  ) WHERE rn <= {max_edges_per_node}),
ded AS MATERIALIZED (SELECT DISTINCT src, dst, edge_type, seed_weight FROM latest){rules}
SELECT dst AS id, SUM(seed_weight) AS weight, CAST(COUNT(*) AS BIGINT) AS visits
FROM ded {where}GROUP BY dst
ORDER BY weight DESC, id ASC
LIMIT {k}
""".strip()
    )


def second_degree_filtered_sql(
    max_edges_per_node: int = 500,
    n_seeds: int = 5,
    min_degree: int = 3,
    proof_types: tuple[int, ...] = (0, 1),
    direct_node: int = 1,
    k: int = 20,
) -> str:
    """Filter-chain oracle: second-degree candidates minus the top-2
    parts (F1), minus node ``direct_node``'s own neighbors (F3), with a
    degree floor (F4) and a proof-type overlap requirement (F5)."""
    pt = ", ".join(str(t) for t in proof_types)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + _TOP_PARTS.format(k=2).strip()
        + ",\n"
        + f"""
seeds AS MATERIALIZED (SELECT * FROM (VALUES
  {", ".join(f"(CAST({s} AS BIGINT), CAST(1.0 AS DOUBLE))" for s in range(1, n_seeds + 1))}
  ) s(src, seed_weight)),
latest AS MATERIALIZED (
  SELECT src, dst, edge_type, seed_weight FROM (
    SELECT i.src, i.dst, i.edge_type, s.seed_weight,
           ROW_NUMBER() OVER (PARTITION BY i.src ORDER BY i.seq DESC) AS rn
    FROM interactions i JOIN seeds s ON i.src = s.src
  ) WHERE rn <= {max_edges_per_node}),
ded AS MATERIALIZED (SELECT DISTINCT src, dst, edge_type, seed_weight FROM latest),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM interactions),
ind AS MATERIALIZED (SELECT dst, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY dst),
direct AS MATERIALIZED (SELECT DISTINCT dst FROM e WHERE src = {direct_node}),
cand AS MATERIALIZED (
  SELECT dst AS id, SUM(seed_weight) AS weight, CAST(COUNT(*) AS BIGINT) AS visits
  FROM ded GROUP BY dst)
SELECT c.id, c.weight, c.visits, ind.degree
FROM cand c JOIN ind ON c.id = ind.dst
WHERE c.id NOT IN (SELECT t FROM tp)
  AND ind.degree >= {min_degree}
  AND EXISTS (SELECT 1 FROM ded WHERE ded.dst = c.id AND ded.edge_type IN ({pt}))
  AND c.id NOT IN (SELECT dst FROM direct)
ORDER BY c.weight DESC, c.id ASC LIMIT {k}
""".strip()
    )


def adjacency_skip_sql(node: int = 1, skip: int = 5) -> str:
    """P5 pagination oracle: distinct neighbors of ``node`` in adjacency
    (sorted) order, after skipping the first ``skip``."""
    return (
        oracle_cte().rstrip()
        + f"""
SELECT dst FROM (SELECT DISTINCT dst FROM interactions WHERE src = {node})
ORDER BY dst OFFSET {skip}
"""
    )


def adjacency_numbered_sql(node: int = 1, i: int = 3) -> str:
    """P6 numbered-edge oracle: the i-th (1-based) distinct neighbor of
    ``node`` in adjacency (sorted) order."""
    return (
        oracle_cte().rstrip()
        + f"""
SELECT dst FROM (SELECT DISTINCT dst FROM interactions WHERE src = {node})
ORDER BY dst LIMIT 1 OFFSET {i - 1}
"""
    )


def top_parts_recent_sql(
    after: str = "1995-01-01", before: str = "1995-12-31", k: int = 20
) -> str:
    """F2/F8 time-range oracle: top parts by engagement within the ship
    window (ties -> larger id)."""
    return (
        oracle_cte().rstrip()
        + f"""
SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS degree
FROM interactions
WHERE ts BETWEEN '{after}' AND '{before}'
GROUP BY dst ORDER BY degree DESC, id DESC LIMIT {k}
"""
    )


def social_proof_sql(max_edges_per_node: int = 500, round_to: int = 6) -> str:
    """TweetSocialProof analogue: inputs = top-5 parts, seed customers
    {1: 1.0, 2: 2.0, 3: 0.5}, proof types {0, 1}."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + _TOP_PARTS.format(k=5).strip()
        + ",\n"
        + f"""
seeds AS MATERIALIZED (SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(2.0 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(0.5 AS DOUBLE))) s(src, seed_weight)),
matched AS MATERIALIZED (
  SELECT t.t AS id, x.src, x.edge_type, x.seed_weight FROM (
    SELECT i.src, i.dst, i.edge_type, s.seed_weight,
           ROW_NUMBER() OVER (PARTITION BY i.src ORDER BY i.seq DESC) AS rn
    FROM interactions i JOIN seeds s ON i.src = s.src
  ) x JOIN tp t ON x.dst = t.t
  WHERE x.rn <= {max_edges_per_node} AND x.edge_type IN (0, 1)),
by_type AS MATERIALIZED (
  SELECT id, edge_type, SUM(seed_weight) AS w FROM matched GROUP BY id, edge_type),
agg AS MATERIALIZED (
  SELECT id, SUM(w) AS weight, CAST(COUNT(*) AS INT) AS n_proof_types
  FROM by_type GROUP BY id)
SELECT tp.t AS id,
       ROUND(COALESCE(agg.weight, 0.0), {round_to}) AS weight,
       COALESCE(agg.n_proof_types, 0) AS n_proof_types
FROM tp LEFT JOIN agg ON tp.t = agg.id
""".strip()
    )


def salsa_subgraph_sql(
    num_walks: int = 1000,
    walk_length: int = 5,
    reset_prob: float = 0.3,
    query_weight_fraction: float = 0.9,
    k: int = 20,
    round_to: int = 6,
) -> str:
    """Unrolled deterministic subgraph SALSA over the reversed
    interactions graph (part -> customer), query = top-1 part, seeds =
    top-2/3 parts weight 1.0.  Mirrors plans/salsa.py step by step."""
    qw_factor = repr(query_weight_fraction / (1.0 - query_weight_fraction))
    parts = [
        "rev AS MATERIALIZED (SELECT DISTINCT dst AS src, src AS dst FROM interactions)",
        "sub AS MATERIALIZED (SELECT r.src, r.dst FROM rev r JOIN tp ON r.src = tp.t)",
        "outd AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sub GROUP BY src)",
        "recip AS MATERIALIZED (SELECT dst, 1.0/COUNT(*) AS recip FROM sub GROUP BY dst)",
        "qn AS MATERIALIZED (SELECT t FROM tp WHERE rk = 1)",
        """seeds0 AS MATERIALIZED (
  SELECT t AS id, CAST(1.0 AS DOUBLE) AS w FROM tp
  WHERE rk > 1 AND t IN (SELECT src FROM outd))""",
        f"""qrow AS MATERIALIZED (
  SELECT t AS id,
         CASE WHEN (SELECT COALESCE(SUM(w), 0.0) FROM seeds0) > 0
              THEN (SELECT SUM(w) FROM seeds0) * {qw_factor}
              ELSE 1.0 END AS w
  FROM qn WHERE t IN (SELECT src FROM outd))""",
        "seed_all AS MATERIALIZED (SELECT * FROM seeds0 UNION ALL SELECT * FROM qrow)",
        f"""l0 AS MATERIALIZED (
  SELECT id, w / (SELECT SUM(w) FROM seed_all) * {float(num_walks)} AS w
  FROM seed_all)""",
    ]
    cum_prev = None
    for step in range(walk_length):
        if step % 2 == 0:  # forward
            parts.append(
                f"""f{step} AS MATERIALIZED (
  SELECT sub.dst, SUM(l.w / outd.deg) AS c
  FROM sub JOIN l{step} l ON sub.src = l.id JOIN outd ON sub.src = outd.src
  GROUP BY sub.dst)"""
            )
            if cum_prev is None:
                parts.append(f"cum{step} AS MATERIALIZED (SELECT * FROM f{step})")
            else:
                parts.append(
                    f"""cum{step} AS MATERIALIZED (
  SELECT dst, SUM(c) AS c FROM (
    SELECT * FROM {cum_prev} UNION ALL SELECT * FROM f{step}
  ) GROUP BY dst)"""
                )
            cum_prev = f"cum{step}"
            parts.append(
                f"""l{step + 1} AS MATERIALIZED (
  SELECT t AS id, {reset_prob} * (SELECT SUM(w) FROM l{step}) AS w FROM qn)"""
            )
        else:  # backward
            parts.append(
                f"""l{step + 1} AS MATERIALIZED (
  SELECT COALESCE(g.id, l.id) AS id,
         COALESCE(g.g, 0.0) + COALESCE(l.w, 0.0) AS w
  FROM (
    SELECT sub.src AS id, SUM(c.c * r.recip) AS g
    FROM sub JOIN {cum_prev} c ON sub.dst = c.dst
    JOIN recip r ON sub.dst = r.dst
    GROUP BY sub.src
  ) g FULL OUTER JOIN l{step} l ON g.id = l.id)"""
            )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + _TOP_PARTS.format(k=3).strip()
        + ",\n"
        + body
        + f"""
SELECT dst AS id, ROUND(c / (SELECT SUM(c) FROM {cum_prev}), {round_to}) AS score
FROM {cum_prev}
ORDER BY score DESC, id ASC
LIMIT {k}"""
    )


def triangles_per_vertex_sql() -> str:
    """Per-vertex triangle participation counts (vertices in >=1
    triangle), same degree-ordered orientation as triangle_count_sql."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + """
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id),
orient AS MATERIALIZED (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi
  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id
),
closed AS MATERIALIZED (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM orient e1
  JOIN orient e2 ON e1.hi = e2.lo
  JOIN orient e3 ON e1.lo = e3.lo AND e2.hi = e3.hi
)
SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
  SELECT x AS id FROM closed
  UNION ALL SELECT y FROM closed
  UNION ALL SELECT z FROM closed
) GROUP BY id
""".strip()
    )


def metadata_recs_sql(max_edges_per_node: int = 500, k: int = 20) -> str:
    """Metadata rollup (meta_type 1 = part-type bucket) over the
    top-second-degree candidate set — the HASHTAG/URL rec analogue."""
    from graphjet_spark.sources.testdata import NODE_META_SQL

    return (
        oracle_cte().rstrip()
        + ",\n"
        + f"""
nm AS MATERIALIZED ({NODE_META_SQL}),
seeds AS MATERIALIZED (SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(1.0 AS DOUBLE))) s(src, seed_weight)),
latest AS MATERIALIZED (
  SELECT src, dst, edge_type, seed_weight FROM (
    SELECT i.src, i.dst, i.edge_type, s.seed_weight,
           ROW_NUMBER() OVER (PARTITION BY i.src ORDER BY i.seq DESC) AS rn
    FROM interactions i JOIN seeds s ON i.src = s.src
  ) WHERE rn <= {max_edges_per_node}),
ded AS MATERIALIZED (SELECT DISTINCT src, dst, edge_type, seed_weight FROM latest),
cand AS MATERIALIZED (
  SELECT dst AS id, SUM(seed_weight) AS weight
  FROM ded GROUP BY dst ORDER BY weight DESC, id ASC LIMIT {k})
SELECT nm.meta_id, SUM(cand.weight) AS weight,
       CAST(COUNT(*) AS BIGINT) AS n_candidates
FROM cand JOIN nm ON cand.id = nm.id AND nm.meta_type = 1
GROUP BY nm.meta_id
""".strip()
    )


# --------------------------------------------------------- training-data


def exact_dedup_sql() -> str:
    return (
        "SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies "
        "FROM documents GROUP BY text"
    )


def _ngram_pairs_ctes(threshold: float) -> str:
    """CTE chain ending in ``jpairs`` (doc_a, doc_b, jaccard >= t) —
    the naive all-pairs oracle form, shared by the pair gate and the
    keep-list pipeline oracle."""
    return rf"""toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jpairs AS MATERIALIZED (
  SELECT doc_a, doc_b,
         ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= {threshold})"""


def ngram_jaccard_sql(threshold: float = 0.9) -> str:
    return (
        "WITH "
        + _ngram_pairs_ctes(threshold)
        + "\nSELECT doc_a, doc_b, jaccard FROM jpairs\n"
    )


def dedup_keep_list_sql(threshold: float = 0.9, iters: int = 12) -> str:
    """Keep-list pipeline oracle: near-dup pairs -> unrolled hash-min
    connected components over the pair graph -> keep_id = component min
    (docs in no pair keep themselves)."""
    parts = [
        """dv AS MATERIALIZED (
  SELECT doc_a AS id FROM jpairs UNION SELECT doc_b FROM jpairs)""",
        """dsym AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION SELECT doc_b, doc_a FROM jpairs)""",
        "k0 AS MATERIALIZED (SELECT id, id AS comp FROM dv)",
    ]
    for i in range(iters):
        p, c = f"k{i}", f"k{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT cur.id, LEAST(cur.comp, COALESCE(m.mn, cur.comp)) AS comp
  FROM {p} cur LEFT JOIN (
    SELECT s.a AS id, MIN(n.comp) AS mn
    FROM dsym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a
  ) m ON cur.id = m.id)"""
        )
    return (
        "WITH "
        + _ngram_pairs_ctes(threshold)
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT d.doc_id, COALESCE(k.comp, d.doc_id) AS keep_id
FROM documents d LEFT JOIN k{iters} k ON d.doc_id = k.id
"""
    )


def _shingle_hash_ctes(n: int, mod: int | None = None) -> str:
    """Shared CTEs: (doc_id, h) 60-bit md5-prefix hashes of distinct
    word n-grams over non-empty whitespace tokens — byte-equivalent to
    operators/dedup.py::shingle_hashes (verified cross-engine)."""
    modexpr = f" % {mod}" if mod is not None else ""
    if n == 1:
        grams = "w"
    else:
        grams = (
            f"CASE WHEN len(w) >= {n} THEN "
            f"list_transform(range(len(w) - {n} + 1), "
            f"i -> array_to_string(list_slice(w, i + 1, i + {n}), ' ')) "
            f"ELSE [] END"
        )
    return rf"""
toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
  FROM documents),
grams AS MATERIALIZED (
  SELECT doc_id, list_distinct({grams}) AS g FROM toks),
hs AS MATERIALIZED (
  SELECT doc_id,
         list_transform(g, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT{modexpr}) AS h
  FROM grams WHERE len(g) > 0)
"""


def minhash_near_dups_sql(
    num_hashes: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """MinHash+LSH near-dup oracle: identical signatures (same (a,b)
    permutation params, same 60-bit shingle hashes, same Mersenne
    modulus as the Spark engine), then an all-pairs check of the exact
    banding predicate — the oracle may be quadratic, the engine may not."""
    from graphjet_spark.operators.dedup import _MERSENNE, _hash_params

    a, b = _hash_params(num_hashes, seed)
    params = ", ".join(
        f"{{'a': {int(ai)}, 'b': {int(bi)}}}" for ai, bi in zip(a, b)
    )
    r = num_hashes // bands
    est = (
        f"len(list_filter(range({num_hashes}), i -> a.sig[i+1] = b.sig[i+1]))"
        f" / {float(num_hashes)!r}"
    )
    band_match = (
        f"len(list_filter(range({bands}), "
        f"bb -> list_slice(a.sig, bb*{r}+1, bb*{r}+{r})"
        f" = list_slice(b.sig, bb*{r}+1, bb*{r}+{r}))) > 0"
    )
    return (
        "WITH "
        + _shingle_hash_ctes(shingle_n, mod=_MERSENNE).strip()
        + f""",
sigs AS MATERIALIZED (
  SELECT doc_id,
         list_transform([{params}],
           p -> COALESCE(
             list_min(list_transform(h, x -> (p.a * x + p.b) % {_MERSENNE})),
             {_MERSENNE})) AS sig
  FROM hs)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {est} AS est_jaccard
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {band_match} AND {est} >= {threshold}
"""
    )


def simhash_near_dups_sql(max_hamming: int = 3, shingle_n: int = 2) -> str:
    """SimHash near-dup oracle: the 60-bit fingerprint rebuilt bit by
    bit from the same shingle hashes (sign of the +1/-1 vote sum), then
    an all-pairs check of band agreement (pigeonhole prefilter) and
    hamming distance."""
    bits = 60
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1
    terms = "\n         + ".join(
        f"(CASE WHEN COALESCE(list_sum(list_transform(h, "
        f"x -> ((x >> {b}) & 1) * 2 - 1)), 0) > 0 "
        f"THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(bits)
    )
    band_match = (
        f"len(list_filter(range({n_bands}), "
        f"k -> ((a.simhash >> (k * {width})) & {mask})"
        f" = ((b.simhash >> (k * {width})) & {mask}))) > 0"
    )
    return (
        "WITH "
        + _shingle_hash_ctes(shingle_n).strip()
        + f""",
fps AS MATERIALIZED (
  SELECT doc_id,
         {terms} AS simhash
  FROM hs)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE {band_match}
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""
    )


def vocab_stats_sql(k: int = 20) -> str:
    """Top-k tokens by document frequency (ties -> token asc; the
    boundary is stable because (df, tok) is unique)."""
    return r"""
WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
    FROM documents)
  WHERE tok <> '')
SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks
GROUP BY tok ORDER BY df DESC, tok ASC LIMIT """ + str(k)


def embedding_keep_list_sql(threshold: float = 0.3, iters: int = 16) -> str:
    """Embedding-cluster keep-list oracle: cosine pairs -> unrolled
    hash-min CC -> keep_id = cluster min (vectors in no pair keep
    themselves)."""
    parts = [
        """ev AS MATERIALIZED (
  SELECT id_a AS id FROM epairs UNION SELECT id_b FROM epairs)""",
        """esym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM epairs
  UNION SELECT id_b, id_a FROM epairs)""",
        "e0 AS MATERIALIZED (SELECT id, id AS comp FROM ev)",
    ]
    for i in range(iters):
        p, c = f"e{i}", f"e{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT cur.id, LEAST(cur.comp, COALESCE(m.mn, cur.comp)) AS comp
  FROM {p} cur LEFT JOIN (
    SELECT s.a AS id, MIN(n.comp) AS mn
    FROM esym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a
  ) m ON cur.id = m.id)"""
        )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
epairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= {threshold}),
{",".join(parts)}
SELECT ve.vec_id, COALESCE(ec.comp, ve.vec_id) AS keep_id
FROM (SELECT vec_id FROM embeddings) ve
LEFT JOIN e{iters} ec ON ve.vec_id = ec.id
"""


def embedding_near_dups_sql(threshold: float = 0.3) -> str:
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= {threshold}
"""


def ann_topk_sql(query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 10) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS MATERIALIZED (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN ({ids}))
SELECT query_id, neighbor_id, cosine FROM (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.qe, v.e), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY ROUND(list_cosine_similarity(q.qe, v.e), 6) DESC,
                    v.vec_id ASC) AS rn
  FROM q JOIN v ON v.vec_id <> q.query_id
) WHERE rn <= {k}
"""


def token_count_sql() -> str:
    return r"""
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
       AS INT) AS bpe_ish_tokens
FROM documents
"""


def quality_score_sql(stopwords: tuple[str, ...]) -> str:
    sw = ", ".join(f"'{w}'" for w in stopwords)
    return rf"""
WITH q AS MATERIALIZED (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
                              w -> list_contains([{sw}], lower(w)))) END AS n_stop
  FROM documents)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
  ROUND(
    (CASE WHEN n_words >= 5 AND n_words <= 100000 THEN 1.0 ELSE 0.0 END) * 0.4
    + (CASE WHEN n_words > 0 AND n_chars / n_words >= 2.0
                 AND n_chars / n_words <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3
    + LEAST((CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words
             ELSE 0.0 END) * 4.0, 1.0) * 0.3, 6) AS quality
FROM q
"""


def content_fingerprint_sql() -> str:
    return "SELECT doc_id, md5(text) AS md5 FROM documents"


def language_id_sql(markers: dict[str, list[str]]) -> str:
    """Marker-word language ID oracle: per language, hit rate =
    #tokens-in-marker-set / #tokens (exact integer-derived float64
    division, unrounded — identical in any IEEE engine); argmax with
    ties to the first language in sorted code order, 'und' at zero."""
    langs = sorted(markers)
    score_cols = ",\n    ".join(
        "CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, t -> list_contains(["
        + ", ".join(f"'{m}'" for m in markers[l])
        + f"], t))) AS DOUBLE) / len(w) ELSE 0.0 END AS s_{l}"
        for l in langs
    )
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = (
        "CASE WHEN best = 0.0 THEN 'und' "
        + " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
        + " END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
  FROM documents),
s AS MATERIALIZED (
  SELECT doc_id,
    {score_cols}
  FROM w),
b AS MATERIALIZED (SELECT doc_id, {best} AS best, * FROM s)
SELECT doc_id, {pred} AS pred_lang, best AS lang_score FROM b
"""


def corpus_select_sql(
    markers: dict[str, list[str]],
    stopwords: tuple[str, ...],
    *,
    threshold: float = 0.9,
    cc_iters: int = 12,
    min_quality: float = 0.5,
    lang: str = "en",
) -> str:
    """Training-set selection oracle: canonical (non-duplicate) docs
    passing the quality floor in the requested language — the composed
    form of the keep-list, quality, and language-id oracles (each
    embedded as a WITH-bearing derived table)."""
    return f"""
SELECT k.doc_id, q.n_words, q.quality, l.pred_lang
FROM ({dedup_keep_list_sql(threshold, iters=cc_iters).strip()}) k
JOIN ({quality_score_sql(stopwords).strip()}) q ON k.doc_id = q.doc_id
JOIN ({language_id_sql(markers).strip()}) l ON k.doc_id = l.doc_id
WHERE k.keep_id = k.doc_id AND q.quality >= {min_quality}
  AND l.pred_lang = '{lang}'
"""


def dedup_rate_by_source_sql(
    threshold: float = 0.9, cc_iters: int = 12, round_to: int = 6
) -> str:
    """Per-provenance dedup leakage: docs vs surviving keepers per
    source (composes the keep-list oracle with the documents table)."""
    return f"""
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.keep_id = k.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       ROUND(1.0 - CAST(SUM(CASE WHEN k.keep_id = k.doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), {round_to})
         AS dup_rate
FROM documents d
JOIN ({dedup_keep_list_sql(threshold, iters=cc_iters).strip()}) k
  ON d.doc_id = k.doc_id
GROUP BY d.source
"""


def powerlaw_alpha_sql(dmin: int = 2, round_to: int = 6) -> str:
    """Twin of plans/graphstats.py::powerlaw_alpha — CSN'09 continuous
    MLE over symmetrized degrees >= dmin."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
dg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS d FROM sym GROUP BY a),
tl AS MATERIALIZED (SELECT d FROM dg WHERE d >= {dmin})
SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
       CAST({dmin} AS INT) AS dmin,
       ROUND(CASE WHEN COUNT(*) > 0 THEN
         1.0 + CAST(COUNT(*) AS DOUBLE)
               / SUM(LN(CAST(d AS DOUBLE) / {dmin - 0.5!r}))
         ELSE NULL END, {round_to}) AS alpha
FROM tl"""
    )


def degree_histogram_sql() -> str:
    """A9 power-law histogram over graph_edges out-degrees; bucket =
    integer bit-length - 1 (cross-engine-stable floor(log2))."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + """
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM graph_edges),
od AS MATERIALIZED (SELECT src, COUNT(*) AS out_degree FROM e GROUP BY src)
SELECT CAST(LENGTH(BIN(out_degree)) - 1 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS nodes
FROM od GROUP BY bucket ORDER BY bucket
""".strip()
    )


def triangle_count_sql() -> str:
    """Degree-ordered triangle count (global). Orientation: each
    undirected edge points from lower (deg, id) to higher, so every
    triangle is counted exactly once."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + """
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id),
orient AS MATERIALIZED (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi
  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id
)
SELECT CAST(COUNT(*) AS BIGINT) AS triangles
FROM orient e1
JOIN orient e2 ON e1.hi = e2.lo
JOIN orient e3 ON e1.lo = e3.lo AND e2.hi = e3.hi
""".strip()
    )


# ------------------------------------------------------- graph statistics


def local_clustering_sql(round_to: int = 6) -> str:
    """Per-vertex local clustering coefficient over the undirected
    simple graph: 2*T(v) / (d*(d-1)), 0 when d < 2; same degree-ordered
    triangle enumeration as triangles_per_vertex_sql."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + f"""
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id),
orient AS MATERIALIZED (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi
  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id
),
closed AS MATERIALIZED (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM orient e1
  JOIN orient e2 ON e1.hi = e2.lo
  JOIN orient e3 ON e1.lo = e3.lo AND e2.hi = e3.hi
),
tri AS MATERIALIZED (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT x AS id FROM closed
    UNION ALL SELECT y FROM closed
    UNION ALL SELECT z FROM closed
  ) GROUP BY id)
SELECT deg.id, CAST(deg.d AS BIGINT) AS deg,
       ROUND(CASE WHEN deg.d >= 2 THEN
         (2.0 * CAST(COALESCE(tri.t, 0) AS DOUBLE))
           / (CAST(deg.d AS DOUBLE) * (CAST(deg.d AS DOUBLE) - 1.0))
         ELSE 0.0 END, {round_to}) AS lcc
FROM deg LEFT JOIN tri ON deg.id = tri.id
""".strip()
    )


def reciprocity_sql(round_to: int = 6) -> str:
    """One row (directed_edges, mutual_edges, reciprocity) over the
    distinct self-loop-free directed edge set."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + f"""
ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM graph_edges WHERE src <> dst),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS directed_edges FROM ed),
mut AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS mutual_edges FROM ed a
  WHERE EXISTS (SELECT 1 FROM ed b WHERE b.src = a.dst AND b.dst = a.src))
SELECT directed_edges, mutual_edges,
       ROUND(CAST(mutual_edges AS DOUBLE) / CAST(directed_edges AS DOUBLE),
             {round_to}) AS reciprocity
FROM tot, mut
""".strip()
    )


def degree_assortativity_sql(round_to: int = 6) -> str:
    """One row (n_ends, assortativity): Pearson correlation of endpoint
    degrees over the symmetrized edge list, computed from exact BIGINT
    sufficient statistics folded in float64 at the end (cross-engine
    bit-stable)."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + f"""
degv AS MATERIALIZED (
  SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
ends AS MATERIALIZED (
  SELECT da.d AS dx, db.d AS dy
  FROM sym JOIN degv da ON sym.a = da.id JOIN degv db ON sym.b = db.id),
st AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
         SUM(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
         SUM(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
         SUM(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
  FROM ends)
SELECT n AS n_ends,
       ROUND(CASE WHEN
           SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         ELSE NULL END, {round_to}) AS assortativity
FROM st
""".strip()
    )


def sssp_fixed_sql(source: int, iters: int) -> str:
    """Unrolled weighted Bellman-Ford from ``source`` over the distinct
    directed edge set with the shared derived weight 1 + dst % 7.
    Output (id, dist), BIGINT distances (exact cross-engine)."""
    parts = [
        "ew AS MATERIALIZED (SELECT src, dst, "
        "CAST(1 + dst % 7 AS BIGINT) AS w FROM e)",
        f"d0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS id, "
        "CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(iters):
        p, c = f"d{i}", f"d{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT ew.dst AS id, d.dist + ew.w AS dist
    FROM {p} d JOIN ew ON d.id = ew.src
  ) GROUP BY id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT id, dist FROM d{iters}"
    )


def repetition_stats_sql() -> str:
    """Gopher-style repetition signals per document (most-common uni/
    bigram fractions, distinct-gram fractions) over whitespace tokens."""
    return r"""
WITH w AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS t FROM w),
uc AS MATERIALIZED (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
us AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS un,
         CAST(COUNT(*) AS BIGINT) AS ud, CAST(MAX(c) AS BIGINT) AS ut
  FROM uc GROUP BY doc_id),
bg AS MATERIALIZED (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)),
                                    i -> w[i] || ' ' || w[i + 1])
                ELSE CAST([] AS VARCHAR[]) END) AS b
  FROM w),
bc AS MATERIALIZED (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
bs AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bn,
         CAST(COUNT(*) AS BIGINT) AS bd, CAST(MAX(c) AS BIGINT) AS bt
  FROM bc GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(us.un, 0) AS n_tokens,
  ROUND(CASE WHEN COALESCE(us.un, 0) > 0
        THEN CAST(us.ud AS DOUBLE) / CAST(us.un AS DOUBLE)
        ELSE 0.0 END, 6) AS distinct_token_frac,
  ROUND(CASE WHEN COALESCE(us.un, 0) > 0
        THEN CAST(us.ut AS DOUBLE) / CAST(us.un AS DOUBLE)
        ELSE 0.0 END, 6) AS top_token_frac,
  ROUND(CASE WHEN COALESCE(bs.bn, 0) > 0
        THEN CAST(bs.bd AS DOUBLE) / CAST(bs.bn AS DOUBLE)
        ELSE 0.0 END, 6) AS distinct_bigram_frac,
  ROUND(CASE WHEN COALESCE(bs.bn, 0) > 0
        THEN CAST(bs.bt AS DOUBLE) / CAST(bs.bn AS DOUBLE)
        ELSE 0.0 END, 6) AS top_bigram_frac
FROM documents d
LEFT JOIN us ON d.doc_id = us.doc_id
LEFT JOIN bs ON d.doc_id = bs.doc_id
"""


def harmonic_fixed_sql(
    sources: tuple[int, ...], iters: int, round_to: int = 6
) -> str:
    """Unrolled multi-source BFS + harmonic centrality of each source
    over its ``iters``-hop reachable set (sum of 1/dist)."""
    parts = []
    finals = []
    for k, s in enumerate(sources):
        parts.append(
            f"s{k}b0 AS MATERIALIZED (SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)"
        )
        for i in range(iters):
            p, c = f"s{k}b{i}", f"s{k}b{i + 1}"
            parts.append(
                f"""{c} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS INT) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT e.dst AS id, b.dist + 1 AS dist
    FROM {p} b JOIN e ON b.id = e.src
  ) GROUP BY id)"""
            )
        finals.append(
            f"SELECT CAST({s} AS BIGINT) AS source, id, dist FROM s{k}b{iters}"
        )
    union = "\nUNION ALL\n".join(finals)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f""",
alld AS MATERIALIZED ({union})
SELECT source, CAST(COUNT(*) AS BIGINT) AS reached,
       ROUND(SUM(CAST(1.0 AS DOUBLE) / CAST(dist AS DOUBLE)), {round_to})
         AS harmonic
FROM alld WHERE dist > 0 GROUP BY source"""
    )


def component_sizes_sql(iters: int) -> str:
    """Component-size histogram over the converged hash-min labels:
    (size, n_components)."""
    parts = ["c0 AS MATERIALIZED (SELECT id, id AS comp FROM v)"]
    for i in range(iters):
        p, c = f"c{i}", f"c{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT cur.id, LEAST(cur.comp, COALESCE(m.mn, cur.comp)) AS comp
  FROM {p} cur LEFT JOIN (
    SELECT s.a AS id, MIN(n.comp) AS mn
    FROM sym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a
  ) m ON cur.id = m.id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f""",
sizes AS MATERIALIZED (
  SELECT comp, CAST(COUNT(*) AS BIGINT) AS size FROM c{iters} GROUP BY comp)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY size"""
    )


def hash_threshold_sample_sql(
    frac_by_lang: dict[str, float], default_frac: float
) -> str:
    """Deterministic stratified hash-threshold sample: keep iff the
    60-bit md5-prefix content hash < frac(lang) * 16^15."""
    space = 16**15
    whens = "".join(
        f" WHEN '{lang}' THEN {int(frac * space)}"
        for lang, frac in frac_by_lang.items()
    )
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
  FROM documents)
WHERE h < CASE lang{whens} ELSE {int(default_frac * space)} END
"""


def source_quality_rollup_sql(
    stopwords: tuple[str, ...],
    quality_floor: float = 0.7,
    min_mean_quality: float = 0.75,
) -> str:
    """Per-source quality triage over the quality_score chain."""
    qsql = quality_score_sql(stopwords)
    return f"""
SELECT source, n_docs, mean_quality, pass_rate,
       mean_quality >= {min_mean_quality} AS keep
FROM (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(AVG(quality), 6) AS mean_quality,
         ROUND(AVG(CASE WHEN quality >= {quality_floor}
                   THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END), 6) AS pass_rate
  FROM ( {qsql} ) qq JOIN documents d ON qq.doc_id = d.doc_id
  GROUP BY d.source)
"""


def session_stats_sql(gap_us: int = 6 * 3600 * 1_000_000) -> str:
    """Gap-based sessionization rollup over the events table (exact
    BIGINT epoch-microsecond arithmetic)."""
    return f"""
WITH ev AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
flagged AS MATERIALIZED (
  SELECT user_id, us, event_id,
         CASE WHEN LAG(us) OVER w IS NULL
                   OR us - LAG(us) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sess AS MATERIALIZED (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS session_id
  FROM flagged),
per_session AS MATERIALIZED (
  SELECT user_id, session_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us
  FROM sess GROUP BY user_id, session_id)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(MAX(span_us) AS BIGINT) AS max_session_span_us
FROM per_session GROUP BY user_id
"""


def adamic_adar_sql(
    max_center_degree: int = 64, min_common: int = 2, round_to: int = 6
) -> str:
    """Degree-capped common-neighbor / Adamic-Adar pairs over the
    symmetrized simple graph (centers with 2 <= deg <= cap)."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
degc AS MATERIALIZED (
  SELECT a AS c, COUNT(*) AS d FROM sym GROUP BY a
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_center_degree}),
nb AS MATERIALIZED (
  SELECT s.a AS c, s.b AS n,
         CAST(1.0 AS DOUBLE) / LN(CAST(degc.d AS DOUBLE)) AS w
  FROM sym s JOIN degc ON s.a = degc.c)
SELECT u.n AS id_a, v.n AS id_b,
       CAST(COUNT(*) AS BIGINT) AS common,
       ROUND(SUM(u.w), {round_to}) AS aa
FROM nb u JOIN nb v ON u.c = v.c AND u.n < v.n
GROUP BY u.n, v.n
HAVING COUNT(*) >= {min_common}"""
    )


def luby_mis_sql(iters: int) -> str:
    """Twin of plans/mis.py::luby_mis — unrolled Luby rounds with
    md5-prefix priorities; ties resolve to nobody-wins (both stay
    undecided), identical on both engines."""

    def h(rel: str, t: int) -> str:
        return (
            f"(('0x'||substr(md5('mis:'||{rel}id||':'||'{t}'),1,15))::BIGINT)"
        )

    parts = [
        "mv AS MATERIALIZED (SELECT DISTINCT a AS id FROM sym)",
        "u0 AS MATERIALIZED (SELECT id FROM mv)",
    ]
    win_finals = []
    for t in range(1, iters + 1):
        parts.append(
            f"p{t} AS MATERIALIZED (SELECT id, {h('', t)} AS h FROM u{t - 1})"
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT p.id FROM p{t} p LEFT JOIN (
    SELECT s.a AS id, MAX(q.h) AS mh
    FROM sym s JOIN p{t} q ON s.b = q.id GROUP BY s.a
  ) m ON p.id = m.id
  WHERE m.mh IS NULL OR p.h > m.mh)"""
        )
        parts.append(
            f"""u{t} AS MATERIALIZED (
  SELECT u.id FROM u{t - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM w{t} x WHERE x.id = u.id)
    AND NOT EXISTS (
      SELECT 1 FROM sym s JOIN w{t} x ON s.a = x.id WHERE s.b = u.id))"""
        )
        win_finals.append(f"SELECT id FROM w{t}")
    parts.append(
        "mall AS MATERIALIZED (" + "\nUNION ALL\n".join(win_finals) + ")"
    )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT v.id,
       CAST(CASE WHEN m.id IS NOT NULL THEN 1
                 WHEN u.id IS NOT NULL THEN -1
                 ELSE 0 END AS INT) AS state
FROM mv v
LEFT JOIN mall m ON v.id = m.id
LEFT JOIN u{iters} u ON v.id = u.id"""
    )


def greedy_coloring_sql(colors: int, mis_iters: int) -> str:
    """Twin of plans/mis.py::greedy_coloring — iterated unrolled Luby
    MIS, one color per residual-graph MIS, -1 = uncolored."""

    def h(tag: str, c: int, t: int) -> str:
        return (
            f"(('0x'||substr(md5('clr:'||{tag}id||':'||'{c}:{t}'),1,15))"
            "::BIGINT)"
        )

    parts = [
        "cv AS MATERIALIZED (SELECT DISTINCT a AS id FROM sym)",
        "rem0 AS MATERIALIZED (SELECT id FROM cv)",
    ]
    color_finals = []
    for c in range(colors):
        parts.append(
            f"c{c}u0 AS MATERIALIZED (SELECT id FROM rem{c})"
        )
        wins = []
        for t in range(1, mis_iters + 1):
            parts.append(
                f"c{c}p{t} AS MATERIALIZED "
                f"(SELECT id, {h('', c, t)} AS h FROM c{c}u{t - 1})"
            )
            parts.append(
                f"""c{c}w{t} AS MATERIALIZED (
  SELECT p.id FROM c{c}p{t} p LEFT JOIN (
    SELECT s.a AS id, MAX(q.h) AS mh
    FROM sym s JOIN c{c}p{t} q ON s.b = q.id GROUP BY s.a
  ) m ON p.id = m.id
  WHERE m.mh IS NULL OR p.h > m.mh)"""
            )
            parts.append(
                f"""c{c}u{t} AS MATERIALIZED (
  SELECT u.id FROM c{c}u{t - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM c{c}w{t} x WHERE x.id = u.id)
    AND NOT EXISTS (
      SELECT 1 FROM sym s JOIN c{c}w{t} x ON s.a = x.id
      WHERE s.b = u.id))"""
            )
            wins.append(f"SELECT id FROM c{c}w{t}")
        parts.append(
            f"cw{c} AS MATERIALIZED (" + "\nUNION ALL\n".join(wins) + ")"
        )
        parts.append(
            f"""rem{c + 1} AS MATERIALIZED (
  SELECT r.id FROM rem{c} r
  WHERE NOT EXISTS (SELECT 1 FROM cw{c} w WHERE w.id = r.id))"""
        )
        color_finals.append(
            f"SELECT id, CAST({c} AS INT) AS color FROM cw{c}"
        )
    parts.append(
        "call AS MATERIALIZED ("
        + "\nUNION ALL\n".join(color_finals)
        + ")"
    )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + """
SELECT v.id, CAST(COALESCE(k.color, -1) AS INT) AS color
FROM cv v LEFT JOIN call k ON v.id = k.id"""
    )


def link_prediction_sql(
    max_center_degree: int = 64, min_common: int = 2, round_to: int = 6
) -> str:
    """Link-prediction score family twin of
    operators/linkpred.py::link_prediction_scores — same capped wedge
    join, true endpoint degrees joined after pair aggregation."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
degall AS MATERIALIZED (SELECT a AS c, COUNT(*) AS d FROM sym GROUP BY a),
degc AS MATERIALIZED (
  SELECT c, d FROM degall WHERE d >= 2 AND d <= {max_center_degree}),
nb AS MATERIALIZED (
  SELECT s.a AS c, s.b AS n,
         CAST(1.0 AS DOUBLE) / CAST(degc.d AS DOUBLE) AS ra_w
  FROM sym s JOIN degc ON s.a = degc.c),
prs AS MATERIALIZED (
  SELECT u.n AS id_a, v.n AS id_b,
         CAST(COUNT(*) AS BIGINT) AS common,
         SUM(u.ra_w) AS ra_raw
  FROM nb u JOIN nb v ON u.c = v.c AND u.n < v.n
  GROUP BY u.n, v.n
  HAVING COUNT(*) >= {min_common})
SELECT p.id_a, p.id_b, p.common,
       ROUND(CAST(p.common AS DOUBLE)
             / CAST(da.d + db.d - p.common AS DOUBLE), {round_to})
         AS jaccard,
       ROUND(p.ra_raw, {round_to}) AS resource_alloc,
       CAST(da.d * db.d AS BIGINT) AS pref_attach
FROM prs p
JOIN degall da ON da.c = p.id_a
JOIN degall db ON db.c = p.id_b"""
    )


def closeness_fixed_sql(
    sources: tuple[int, ...], iters: int, round_to: int = 9
) -> str:
    """Unrolled multi-source BFS + Wasserman–Faust closeness of each
    source: (reached / sum dist) * (reached / (n - 1))."""
    parts = []
    finals = []
    for k, s in enumerate(sources):
        parts.append(
            f"c{k}b0 AS MATERIALIZED (SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)"
        )
        for i in range(iters):
            p, c = f"c{k}b{i}", f"c{k}b{i + 1}"
            parts.append(
                f"""{c} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS INT) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT e.dst AS id, b.dist + 1 AS dist
    FROM {p} b JOIN e ON b.id = e.src
  ) GROUP BY id)"""
            )
        finals.append(
            f"SELECT CAST({s} AS BIGINT) AS source, id, dist FROM c{k}b{iters}"
        )
    union = "\nUNION ALL\n".join(finals)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f""",
alld AS MATERIALIZED ({union})
SELECT source, CAST(COUNT(*) AS BIGINT) AS reached,
       ROUND((CAST(COUNT(*) AS DOUBLE) / SUM(CAST(dist AS DOUBLE)))
             * (CAST(COUNT(*) AS DOUBLE) / ((SELECT n FROM nn) - 1.0)),
             {round_to}) AS closeness
FROM alld WHERE dist > 0 GROUP BY source"""
    )


def katz_fixed_sql(alpha: float, iters: int, round_to: int = 9) -> str:
    """Unrolled Katz centrality: x = 1 + alpha * A^T x from x0 = 1.
    Output (id, katz) rounded."""
    parts = ["x0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM v)"]
    for i in range(iters):
        p, c = f"x{i}", f"x{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT v.id,
         CAST(1.0 AS DOUBLE) + {alpha!r} * COALESCE(g.s, 0.0) AS x
  FROM v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.x) AS s
    FROM {p} r JOIN e ON r.id = e.src GROUP BY e.dst
  ) g ON v.id = g.id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT id, ROUND(x / (SELECT SUM(x) FROM x{iters}), {round_to}) AS katz
FROM x{iters}"""
    )


def k_truss_fixed_sql(k: int, iters: int) -> str:
    """Unrolled k-truss edge peeling: each round keeps edges whose
    common-neighbor count within the surviving subgraph is >= k-2
    (edges in zero triangles have no support row and drop).  Output the
    surviving undirected edges (a, b)."""
    thresh = k - 2
    parts = [
        """t0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM graph_edges WHERE src <> dst)"""
    ]
    for i in range(iters):
        p, c = f"t{i}", f"t{i + 1}"
        parts.append(
            f"""sy{i} AS MATERIALIZED (
  SELECT a, b FROM {p} UNION ALL SELECT b, a FROM {p})"""
        )
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT e.a, e.b FROM {p} e
  JOIN sy{i} x ON x.a = e.a
  JOIN sy{i} y ON y.a = e.b AND y.b = x.b
  GROUP BY e.a, e.b
  HAVING COUNT(*) >= {thresh})"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT a, b FROM t{iters}"
    )


def tfidf_top_terms_sql(k: int = 5, round_to: int = 6) -> str:
    """Top-k terms per document by tf * ln(N/df); rank by rounded score
    then term (cross-engine-stable boundary)."""
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS term FROM w),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dftbl AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
ndocs AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS MATERIALIZED (
  SELECT tf.doc_id, tf.term,
         ROUND(CAST(tf.tf AS DOUBLE)
               * LN((SELECT n FROM ndocs) / dftbl.df), {round_to}) AS tfidf
  FROM tf JOIN dftbl ON tf.term = dftbl.term)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""


def embedding_cluster_stats_sql(round_to: int = 6) -> str:
    """Per-label centroid cohesion over the embeddings table."""
    return f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
centroid AS MATERIALIZED (
  SELECT label, i, AVG(x) AS c FROM dims GROUP BY label, i),
per_vec AS MATERIALIZED (
  SELECT d.vec_id, d.label,
         CASE WHEN SQRT(SUM(d.x * d.x)) * SQRT(SUM(c.c * c.c)) > 0
              THEN SUM(d.x * c.c)
                   / (SQRT(SUM(d.x * d.x)) * SQRT(SUM(c.c * c.c)))
              ELSE NULL END AS cos
  FROM dims d JOIN centroid c ON d.label = c.label AND d.i = c.i
  GROUP BY d.vec_id, d.label)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(cos), {round_to}) AS cohesion
FROM per_vec GROUP BY label
"""


def decontamination_sql(n: int = 3, mod: int = 97) -> str:
    """Benchmark-overlap flags: training docs (doc_id % mod <> 0)
    sharing >= 1 token n-gram with the benchmark docs (doc_id % mod = 0)."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
bg AS MATERIALIZED (
  SELECT DISTINCT tok FROM grams WHERE doc_id % {mod} = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
FROM grams g JOIN bg ON g.tok = bg.tok
WHERE g.doc_id % {mod} <> 0
GROUP BY g.doc_id
"""


def crossdoc_dup_fraction_sql(n: int = 3, round_to: int = 6) -> str:
    """Twin of operators/dedup.py::crossdoc_dup_fraction — fraction of
    each doc's distinct token n-grams occurring in >= 2 documents."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
gdf AS MATERIALIZED (
  SELECT tok, COUNT(*) AS df FROM grams GROUP BY tok),
per_doc AS MATERIALIZED (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_grams
  FROM grams g JOIN gdf ON g.tok = gdf.tok
  GROUP BY g.doc_id)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.dup_grams, 0) AS dup_grams,
       CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.dup_grams AS DOUBLE)
                       / CAST(p.n_grams AS DOUBLE), {round_to}) END
         AS dup_fraction
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def source_boilerplate_sql(
    n: int = 3, frac: float = 0.5, round_to: int = 6
) -> str:
    """Twin of operators/textstats.py::source_boilerplate — fraction of
    each doc's distinct token n-grams flagged as source boilerplate
    (present in >= ceil(frac * n_docs) and >= 2 docs of the SAME
    source)."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, source, string_split_regex(text, '\s+') AS w
  FROM documents),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, source, tok FROM (
    SELECT doc_id, source, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
sdocs AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS sdocs
  FROM documents GROUP BY source),
sdf AS MATERIALIZED (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS sdf
  FROM grams GROUP BY source, tok),
flagged AS MATERIALIZED (
  SELECT f.source, f.tok FROM sdf f JOIN sdocs s ON f.source = s.source
  WHERE f.sdf >= 2 AND f.sdf >= CEIL({frac} * s.sdocs)),
per_doc AS MATERIALIZED (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN fl.tok IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS boiler_grams
  FROM grams g
  LEFT JOIN flagged fl ON g.source = fl.source AND g.tok = fl.tok
  GROUP BY g.doc_id)
SELECT d.doc_id, d.source,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.boiler_grams, 0) AS boiler_grams,
       CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.boiler_grams AS DOUBLE)
                       / CAST(p.n_grams AS DOUBLE), {round_to}) END
         AS boiler_fraction
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def gram_novelty_sql(n: int = 3, round_to: int = 6) -> str:
    """Twin of operators/dedup.py::gram_novelty — fraction of each doc's
    distinct token n-grams first occurring (min doc_id) in that doc."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
firsts AS MATERIALIZED (
  SELECT tok, MIN(doc_id) AS first_doc FROM grams GROUP BY tok),
per_doc AS MATERIALIZED (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS novel_grams
  FROM grams g JOIN firsts f ON g.tok = f.tok
  GROUP BY g.doc_id)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.novel_grams, 0) AS novel_grams,
       CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.novel_grams AS DOUBLE)
                       / CAST(p.n_grams AS DOUBLE), {round_to}) END
         AS novelty
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def dsir_logratio_sql(
    target_lang: str = "en",
    select_quantile: float = 0.75,
    round_to: int = 6,
) -> str:
    """Twin of operators/textstats.py::dsir_logratio — add-1-smoothed
    unigram importance log-ratio vs the ``lang = target_lang`` slice,
    top-quantile selection on rounded scores (quantile_cont == Spark
    percentile interpolation; ln() operand order identical)."""
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
cr AS MATERIALIZED (SELECT tok, COUNT(*) AS cr FROM toks GROUP BY tok),
ctt AS MATERIALIZED (
  SELECT tok, COUNT(*) AS ct FROM toks
  WHERE lang = '{target_lang}' GROUP BY tok),
scal AS MATERIALIZED (
  SELECT (SELECT COUNT(*) FROM cr) AS v,
         (SELECT SUM(cr) FROM cr) AS nr,
         (SELECT COALESCE(SUM(ct), 0) FROM ctt) AS nt),
ratio AS MATERIALIZED (
  SELECT cr.tok,
         LN((CAST(COALESCE(ctt.ct, 0) + 1 AS DOUBLE)
             * CAST(s.nr + s.v AS DOUBLE))
            / (CAST(cr.cr + 1 AS DOUBLE)
               * CAST(s.nt + s.v AS DOUBLE))) AS lterm
  FROM cr LEFT JOIN ctt ON cr.tok = ctt.tok CROSS JOIN scal s),
per_doc AS MATERIALIZED (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(r.lterm), {round_to}) AS log_ratio
  FROM toks t JOIN ratio r ON t.tok = r.tok
  GROUP BY t.doc_id),
th AS MATERIALIZED (
  SELECT quantile_cont(log_ratio, {select_quantile!r}) AS thr
  FROM per_doc)
SELECT p.doc_id, p.n_tokens, p.log_ratio,
       CAST(CASE WHEN p.log_ratio >= t.thr THEN 1 ELSE 0 END AS INT)
         AS selected
FROM per_doc p CROSS JOIN th t
"""


def zipf_alpha_sql(cmin: int = 3, round_to: int = 6) -> str:
    """Twin of operators/textstats.py::zipf_alpha — CSN'09 MLE over
    token frequencies >= cmin."""
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
cnts AS MATERIALIZED (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c >= {cmin} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail,
       ROUND(CASE WHEN SUM(CASE WHEN c >= {cmin} THEN 1 ELSE 0 END) > 0
         THEN 1.0 + CAST(SUM(CASE WHEN c >= {cmin} THEN 1 ELSE 0 END)
                         AS DOUBLE)
              / SUM(CASE WHEN c >= {cmin}
                         THEN LN(CAST(c AS DOUBLE) / {cmin - 0.5!r})
                         ELSE 0.0 END)
         ELSE NULL END, {round_to}) AS alpha
FROM cnts
"""


def degree_quantiles_sql(round_to: int = 6) -> str:
    """Twin of the degree_quantiles gate — exact quantile_cont over
    symmetrized degrees ((n-1)q interpolation matches Spark
    percentile)."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
dq AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM sym GROUP BY a)
SELECT ROUND(quantile_cont(d, 0.5), {round_to}) AS q5,
       ROUND(quantile_cont(d, 0.9), {round_to}) AS q9,
       ROUND(quantile_cont(d, 0.99), {round_to}) AS q99,
       CAST(MAX(d) AS BIGINT) AS max_deg
FROM dq"""
    )


def unigram_logprob_sql(round_to: int = 6) -> str:
    """Twin of operators/textstats.py::unigram_logprob — mean ln
    likelihood of each doc's tokens under the corpus unigram model."""
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
cnts AS MATERIALIZED (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS MATERIALIZED (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM cnts)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(LN(CAST(c.cnt AS DOUBLE) / (SELECT tot FROM tot))),
             {round_to}) AS avg_logprob
FROM toks t JOIN cnts c ON t.tok = c.tok
GROUP BY t.doc_id
"""


def edge_churn_monthly_sql(round_to: int = 6) -> str:
    """Twin of operators/projection.py::edge_churn_monthly — distinct
    month-over-month edge retention/addition/drop counts."""
    return (
        oracle_cte().rstrip()
        + f""",
em AS MATERIALIZED (
  SELECT DISTINCT
         CAST(EXTRACT(year FROM ts) * 12 + EXTRACT(month FROM ts) AS INT)
           AS m,
         src, dst
  FROM interactions),
nm AS MATERIALIZED (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_edges FROM em GROUP BY m),
ret AS MATERIALIZED (
  SELECT a.m, CAST(COUNT(*) AS BIGINT) AS retained
  FROM em a JOIN em b
    ON a.src = b.src AND a.dst = b.dst AND b.m = a.m - 1
  GROUP BY a.m)
SELECT n.m AS month_ord,
       n.n_edges,
       CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained,
       CAST(n.n_edges - COALESCE(r.retained, 0) AS BIGINT) AS added,
       CAST(p.n_edges - COALESCE(r.retained, 0) AS BIGINT) AS dropped,
       ROUND(CAST(n.n_edges - COALESCE(r.retained, 0) AS DOUBLE)
             / CAST(n.n_edges AS DOUBLE), {round_to}) AS churn_rate
FROM nm n
LEFT JOIN ret r ON n.m = r.m
LEFT JOIN nm p ON p.m = n.m - 1"""
    )


def one_mode_projection_sql(
    min_cooccurrence: int = 2, max_edges_per_node: int = 500
) -> str:
    """Right-side co-engagement projection over each left vertex's
    latest ``max_edges_per_node`` interactions (seq order)."""
    return (
        oracle_cte().rstrip()
        + f""",
latest AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY seq DESC) AS rn
    FROM interactions) WHERE rn <= {max_edges_per_node})
SELECT l1.dst AS a, l2.dst AS b,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM latest l1 JOIN latest l2
  ON l1.src = l2.src AND l1.dst < l2.dst
GROUP BY l1.dst, l2.dst
HAVING COUNT(*) >= {min_cooccurrence}"""
    )


def degrees_asof_sql(cutoff: str) -> str:
    """Degrees over the distinct interaction edges with ts <= cutoff."""
    return (
        oracle_cte().rstrip()
        + f""",
e2 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM interactions
  WHERE ts <= TIMESTAMP '{cutoff}'),
od AS MATERIALIZED (SELECT src AS id, COUNT(*) AS c FROM e2 GROUP BY src),
ind AS MATERIALIZED (SELECT dst AS id, COUNT(*) AS c FROM e2 GROUP BY dst)
SELECT COALESCE(od.id, ind.id) AS id,
       COALESCE(od.c, 0) AS out_degree,
       COALESCE(ind.c, 0) AS in_degree
FROM od FULL OUTER JOIN ind ON od.id = ind.id"""
    )


def lp_modularity_sql(iters: int, round_to: int = 6) -> str:
    """Newman modularity of the unrolled label-propagation partition:
    Q = sum_c [ s_c/S - (d_c/S)^2 ], S = |sym|."""
    parts = ["l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v)"]
    for i in range(iters):
        p, c = f"l{i}", f"l{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT id, lbl FROM (
    SELECT s.a AS id, n.lbl,
           ROW_NUMBER() OVER (
             PARTITION BY s.a
             ORDER BY COUNT(*) DESC, n.lbl ASC) AS rn
    FROM sym s JOIN {p} n ON s.b = n.id
    GROUP BY s.a, n.lbl
  ) t WHERE rn = 1)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f""",
lab AS MATERIALIZED (
  SELECT s.a, s.b, la.lbl AS ca, lb.lbl AS cb
  FROM sym s JOIN l{iters} la ON s.a = la.id
  JOIN l{iters} lb ON s.b = lb.id),
stot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM lab),
sc AS MATERIALIZED (
  SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS s_c
  FROM lab WHERE ca = cb GROUP BY ca),
dc AS MATERIALIZED (
  SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS d_c FROM lab GROUP BY ca),
perc AS MATERIALIZED (
  SELECT dc.c,
         CAST(COALESCE(sc.s_c, 0) AS DOUBLE) / (SELECT s FROM stot)
           - (CAST(dc.d_c AS DOUBLE) / (SELECT s FROM stot))
             * (CAST(dc.d_c AS DOUBLE) / (SELECT s FROM stot)) AS q_c
  FROM dc LEFT JOIN sc ON dc.c = sc.c)
SELECT CAST(COUNT(*) AS BIGINT) AS communities,
       ROUND(SUM(q_c), {round_to}) AS modularity
FROM perc"""
    )


def hash_walk_corpus_sql(length: int = 4) -> str:
    """Deterministic hash-walk corpus: step i of walk w moves to
    sorted-adjacency index H(w, i) mod out_degree (cross-engine
    md5-prefix hash).  Output (walk_id, step, vertex)."""
    parts = [
        "adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs "
        "FROM e GROUP BY src)",
        "w0 AS MATERIALIZED (SELECT src AS walk_id, src AS vertex FROM adj)",
    ]
    finals = ["SELECT walk_id, 0 AS step, vertex FROM w0"]
    for i in range(1, length + 1):
        parts.append(
            f"""w{i} AS MATERIALIZED (
  SELECT f.walk_id,
         a.nbrs[CAST((('0x' || substr(md5(f.walk_id || ':' || '{i}'), 1, 15))::BIGINT
                % len(a.nbrs)) + 1 AS BIGINT)] AS vertex
  FROM w{i - 1} f JOIN adj a ON f.vertex = a.src)"""
        )
        finals.append(f"SELECT walk_id, {i} AS step, vertex FROM w{i}")
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


def node2vec_walks_sql(
    length: int = 4, w_return: int = 1, w_neighbor: int = 2, w_far: int = 4
) -> str:
    """Twin of plans/walks.py::node2vec_walk_corpus — second-order
    biased hash walks with exact integer cumulative-weight selection.
    Output (walk_id, step, vertex)."""

    def h(i: int) -> str:
        return (
            f"(('0x' || substr(md5(walk_id || ':' || '{i}'), 1, 15))::BIGINT)"
        )

    parts = [
        """adjp AS MATERIALIZED (
  SELECT src, dst AS x,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS pos
  FROM e)""",
        "dgp AS MATERIALIZED (SELECT src, MAX(pos) AS d FROM adjp GROUP BY src)",
        f"""n2w1 AS MATERIALIZED (
  SELECT s.src AS walk_id, s.src AS prev, a.x AS vertex
  FROM dgp s JOIN adjp a ON a.src = s.src
   AND a.pos = ((('0x' || substr(md5(s.src || ':' || '1'), 1, 15))::BIGINT
                 % s.d) + 1))""",
    ]
    finals = [
        "SELECT src AS walk_id, 0 AS step, src AS vertex FROM dgp",
        "SELECT walk_id, 1 AS step, vertex FROM n2w1",
    ]
    for i in range(2, length + 1):
        parts.append(
            f"""n2c{i} AS MATERIALIZED (
  SELECT f.walk_id, f.prev, f.vertex AS cur, a.pos, a.x,
         CASE WHEN a.x = f.prev THEN {w_return}
              WHEN en.src IS NOT NULL THEN {w_neighbor}
              ELSE {w_far} END AS w
  FROM n2w{i - 1} f JOIN adjp a ON a.src = f.vertex
  LEFT JOIN e en ON en.src = f.prev AND en.dst = a.x)"""
        )
        parts.append(
            f"""n2w{i} AS MATERIALIZED (
  SELECT walk_id, cur AS prev, x AS vertex FROM (
    SELECT walk_id, cur, x, w, pos,
           SUM(w) OVER (PARTITION BY walk_id) AS tot,
           SUM(w) OVER (PARTITION BY walk_id ORDER BY pos) AS cum
    FROM n2c{i}) t
  WHERE cum - w <= ({h(i)} % tot) AND ({h(i)} % tot) < cum)"""
        )
        finals.append(f"SELECT walk_id, {i} AS step, vertex FROM n2w{i}")
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


def skipgram_pairs_sql(length: int = 4, window: int = 2) -> str:
    """Skip-gram pairs over the deterministic hash-walk corpus."""
    base = hash_walk_corpus_sql(length)
    return f"""
WITH corpus AS MATERIALIZED (
{base}
)
SELECT a.vertex AS center, b.vertex AS context,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM corpus a JOIN corpus b
  ON a.walk_id = b.walk_id AND a.step <> b.step
  AND ABS(a.step - b.step) <= {window}
GROUP BY a.vertex, b.vertex
"""


def collocations_pmi_sql(min_count: int = 5, round_to: int = 6) -> str:
    """PMI collocations over adjacent whitespace-token pairs."""
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
tok AS MATERIALIZED (
  SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) AS pos FROM w),
uni AS MATERIALIZED (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
nuni AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
bi AS MATERIALIZED (
  SELECT a.t AS w1, b.t AS w2, COUNT(*) AS c_xy
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.t, b.t),
nbi AS MATERIALIZED (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM bi)
SELECT bi.w1, bi.w2, CAST(bi.c_xy AS BIGINT) AS pair_count,
       ROUND(LN((CAST(bi.c_xy AS DOUBLE) / (SELECT n FROM nbi))
             / ((CAST(ux.c AS DOUBLE) / (SELECT n FROM nuni))
                * (CAST(uy.c AS DOUBLE) / (SELECT n FROM nuni)))),
             {round_to}) AS pmi
FROM bi JOIN uni ux ON bi.w1 = ux.t JOIN uni uy ON bi.w2 = uy.t
WHERE bi.c_xy >= {min_count}
"""


def eigenvector_fixed_sql(iters: int, round_to: int = 9) -> str:
    """Unrolled power iteration x = A^T x over the symmetrized simple
    graph, L1-normalized once at the end.  Output (id, eigen)."""
    parts = [
        "x0 AS MATERIALIZED (SELECT DISTINCT a AS id, "
        "CAST(1.0 AS DOUBLE) AS x FROM sym)"
    ]
    for i in range(iters):
        p, c = f"x{i}", f"x{i + 1}"
        parts.append(
            f"""{c} AS MATERIALIZED (
  SELECT s.b AS id, SUM(r.x) AS x
  FROM {p} r JOIN sym s ON r.id = s.a GROUP BY s.b)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT id, ROUND(x / (SELECT SUM(x) FROM x{iters}), {round_to}) AS eigen
FROM x{iters}"""
    )


def event_burstiness_sql(round_to: int = 6) -> str:
    """Per-user inter-event gap burstiness B = (sigma-mu)/(sigma+mu)
    from exact integer sufficient statistics."""
    return f"""
WITH ev AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
g AS MATERIALIZED (
  SELECT user_id, CAST(us - LAG(us) OVER w AS HUGEINT) AS g
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
  QUALIFY g IS NOT NULL),
st AS MATERIALIZED (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         SUM(g) AS sg, SUM(g * g) AS sgg
  FROM g GROUP BY user_id),
folded AS MATERIALIZED (
  SELECT user_id, n_gaps, total_gap_us, mu,
         SQRT(GREATEST(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                         - mu * mu, 0.0)) AS sigma
  FROM (
    SELECT user_id, n_gaps, sgg, CAST(sg AS BIGINT) AS total_gap_us,
           CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu
    FROM st))
SELECT user_id, n_gaps, total_gap_us,
       ROUND(CASE WHEN sigma + mu > 0 THEN (sigma - mu) / (sigma + mu)
             ELSE 0.0 END, {round_to}) AS burstiness
FROM folded
"""


def event_transitions_sql(round_to: int = 6) -> str:
    """Corpus-wide event-type transition matrix with row-normalized
    probabilities."""
    return f"""
WITH ev AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type AS t
  FROM events),
pr AS MATERIALIZED (
  SELECT t AS type_from, LEAD(t) OVER w AS type_to
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
  QUALIFY type_to IS NOT NULL),
cnts AS MATERIALIZED (
  SELECT type_from, type_to, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pr GROUP BY type_from, type_to),
tots AS MATERIALIZED (
  SELECT type_from, CAST(SUM(cnt) AS BIGINT) AS tot
  FROM cnts GROUP BY type_from)
SELECT c.type_from, c.type_to, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE), {round_to}) AS p
FROM cnts c JOIN tots t ON c.type_from = t.type_from
"""


def tfidf_cosine_pairs_sql(
    threshold: float = 0.5, max_df_frac: float = 0.2, round_to: int = 6
) -> str:
    """TF-IDF cosine document pairs over df-capped terms."""
    return rf"""
WITH w0 AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS term FROM w0),
tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dftbl AS MATERIALIZED (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
ndocs AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
wts AS MATERIALIZED (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE)
           * LN((SELECT n FROM ndocs) / CAST(d.df AS DOUBLE)) AS w
  FROM tf JOIN dftbl d ON tf.term = d.term
  WHERE d.df <= CAST(FLOOR({max_df_frac} * (SELECT n FROM ndocs)) AS BIGINT)),
norms AS MATERIALIZED (
  SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM wts GROUP BY doc_id),
unit AS MATERIALIZED (
  SELECT wts.term, wts.doc_id, wts.w / norms.nrm AS u
  FROM wts JOIN norms ON wts.doc_id = norms.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(SUM(a.u * b.u), {round_to}) AS cosine
FROM unit a JOIN unit b
  ON a.term = b.term AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING ROUND(SUM(a.u * b.u), {round_to}) >= {threshold}
"""


def rich_club_sql(ks: tuple[int, ...], round_to: int = 6) -> str:
    """Rich-club coefficient per degree threshold k."""
    kvals = ", ".join(f"({k})" for k in ks)
    return (
        oracle_cte().rstrip()
        + f""",
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM graph_edges WHERE src <> dst),
deg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
  SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
ed AS MATERIALIZED (
  SELECT da.d AS da, db.d AS db
  FROM und JOIN deg da ON und.a = da.id JOIN deg db ON und.b = db.id),
ks(k) AS (SELECT * FROM (VALUES {kvals})),
ek AS MATERIALIZED (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS rich_edges
  FROM ed JOIN ks ON ed.da > ks.k AND ed.db > ks.k GROUP BY k),
nk AS MATERIALIZED (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rich
  FROM deg JOIN ks ON deg.d > ks.k GROUP BY k)
SELECT ks.k,
       COALESCE(nk.n_rich, 0) AS n_rich,
       COALESCE(ek.rich_edges, 0) AS rich_edges,
       ROUND(CASE WHEN COALESCE(nk.n_rich, 0) >= 2 THEN
         2.0 * CAST(COALESCE(ek.rich_edges, 0) AS DOUBLE)
           / (CAST(COALESCE(nk.n_rich, 0) AS DOUBLE)
              * (CAST(COALESCE(nk.n_rich, 0) AS DOUBLE) - 1.0))
         ELSE 0.0 END, {round_to}) AS phi
FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
"""
    )


def grouped_ppr_sql(
    iters: int,
    seeds: tuple[int, ...],
    *,
    damping: float = 0.85,
    k: int = 20,
    round_to: int = 9,
) -> str:
    """Unrolled grouped personalized PageRank (state keyed (seed, id),
    sparse: only reached vertices carry rows), top-k per seed on the
    rounded score with id tie-break.  Mirrors plans/pagerank.py::
    ppr_grouped: each seed restarts to itself; dangling mass returns to
    the owning seed; seeds absent from the vertex set are dropped."""
    d = damping
    vals = ", ".join(f"(CAST({int(s)} AS BIGINT))" for s in sorted(seeds))
    parts = [
        f"""gs AS MATERIALIZED (
  SELECT s.seed FROM (VALUES {vals}) s(seed) JOIN v ON s.seed = v.id)""",
        "g0 AS MATERIALIZED (SELECT seed, seed AS id, 1.0 AS rank FROM gs)",
    ]
    for i in range(iters):
        prev, cur = f"g{i}", f"g{i + 1}"
        parts.append(
            f"""gc{i} AS MATERIALIZED (
  SELECT r.seed, e.dst AS id, SUM(r.rank / od.deg) AS c
  FROM {prev} r JOIN e ON r.id = e.src JOIN od ON e.src = od.src
  GROUP BY r.seed, e.dst)"""
        )
        parts.append(
            f"""gd{i} AS MATERIALIZED (
  SELECT r.seed, COALESCE(SUM(r.rank), 0.0) AS dm
  FROM {prev} r LEFT JOIN od ON r.id = od.src
  WHERE od.src IS NULL GROUP BY r.seed)"""
        )
        parts.append(
            f"""gb{i} AS MATERIALIZED (
  SELECT gs.seed, gs.seed AS id,
         (1.0 - {d}) + {d} * COALESCE(gd{i}.dm, 0.0) AS b
  FROM gs LEFT JOIN gd{i} ON gs.seed = gd{i}.seed)"""
        )
        parts.append(
            f"""{cur} AS MATERIALIZED (
  SELECT COALESCE(c.seed, b.seed) AS seed,
         COALESCE(c.id, b.id) AS id,
         {d} * COALESCE(c.c, 0.0) + COALESCE(b.b, 0.0) AS rank
  FROM gc{i} c FULL OUTER JOIN gb{i} b
    ON c.seed = b.seed AND c.id = b.id)"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f""",
gfin AS MATERIALIZED (
  SELECT seed, id, ROUND(rank, {round_to}) AS ppr,
         ROW_NUMBER() OVER (
           PARTITION BY seed
           ORDER BY ROUND(rank, {round_to}) DESC, id ASC) AS rn
  FROM g{iters})
SELECT seed, id, ppr FROM gfin WHERE rn <= {k}"""
    )


def effective_diameter_sql(
    iters: int, r: int = 8, q: float = 0.9, phi: float = 0.77351,
    round_to: int = 6,
) -> str:
    """Twin of plans/anf.py::effective_diameter — q-effective diameter
    interpolated off the ANF neighborhood curve."""
    return f"""
WITH h AS MATERIALIZED (
{anf_histogram_sql(iters, r).strip()}
),
nf AS MATERIALIZED (
  SELECT t,
         SUM(cnt * POW(2.0, CAST(sketch_sum AS DOUBLE) / {float(r)!r})
             / {phi!r}) AS nf_est
  FROM h GROUP BY t),
mx AS MATERIALIZED (SELECT MAX(nf_est) AS m FROM nf),
s AS MATERIALIZED (
  SELECT t, nf_est, LAG(nf_est) OVER (ORDER BY t) AS pnf FROM nf)
SELECT CAST(t AS INT) AS t90,
       ROUND(CASE WHEN pnf IS NULL THEN 0.0
                  ELSE CAST(t - 1 AS DOUBLE)
                       + ({q!r} * (SELECT m FROM mx) - pnf)
                         / (nf_est - pnf) END, {round_to}) AS eff_diameter
FROM s WHERE nf_est >= {q!r} * (SELECT m FROM mx)
ORDER BY t LIMIT 1
"""


def anf_histogram_sql(iters: int, r: int = 8) -> str:
    """Unrolled ANF supersteps (plans/anf.py twin): md5-prefix FM
    sketches, bit_or gathers along out-edges, exact integer
    (t, sketch_sum, cnt) histogram per hop — no float anywhere."""
    mcols = [f"m{j}" for j in range(r)]

    def mask(j: int) -> str:
        h = (
            f"(('0x'||substr(md5(CAST(id AS VARCHAR)||':'||'{j}'),1,15))"
            "::BIGINT)"
        )
        tz = (
            f"LEAST(60, CASE WHEN {h} = 0 THEN 60 "
            f"ELSE bit_count(({h} & -{h}) - 1) END)"
        )
        return f"(CAST(1 AS BIGINT) << {tz})"

    parts = [
        "s0 AS MATERIALIZED (SELECT id, "
        + ", ".join(f"{mask(j)} AS {c}" for j, c in enumerate(mcols))
        + " FROM v)"
    ]
    for t in range(1, iters + 1):
        prev = f"s{t - 1}"
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT e.src AS id, "
            + ", ".join(f"bit_or(s.{c}) AS n{j}" for j, c in enumerate(mcols))
            + f" FROM e JOIN {prev} s ON e.dst = s.id GROUP BY e.src)"
        )
        parts.append(
            f"s{t} AS MATERIALIZED (SELECT s.id, "
            + ", ".join(
                f"(s.{c} | COALESCE(a.n{j}, 0)) AS {c}"
                for j, c in enumerate(mcols)
            )
            + f" FROM {prev} s LEFT JOIN a{t} a ON s.id = a.id)"
        )
    sexpr = " + ".join(
        f"(CAST(bit_count(xor({c}, {c} + 1)) AS INTEGER) - 1)" for c in mcols
    )
    hists = [
        f"""SELECT CAST({t} AS INTEGER) AS t, sketch_sum,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT CAST({sexpr} AS INTEGER) AS sketch_sum FROM s{t})
GROUP BY sketch_sum"""
        for t in range(iters + 1)
    ]
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + "\n"
        + "\nUNION ALL\n".join(hists)
    )


def butterfly_count_sql(max_edges_per_node: int = 500) -> str:
    """One-row (wedges, butterflies) bipartite motif census over the
    capped latest-edge set (operators/projection.py twin) — exact
    BIGINTs, no tolerance."""
    return (
        oracle_cte().rstrip()
        + f""",
latest AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY seq DESC) AS rn
    FROM interactions) WHERE rn <= {max_edges_per_node}),
pairw AS MATERIALIZED (
  SELECT l1.dst AS a, l2.dst AS b, CAST(COUNT(*) AS BIGINT) AS w
  FROM latest l1 JOIN latest l2
    ON l1.src = l2.src AND l1.dst < l2.dst
  GROUP BY l1.dst, l2.dst
  HAVING COUNT(*) >= 2),
wg AS MATERIALIZED (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS d FROM latest GROUP BY src))
SELECT wg.wedges,
       CAST(COALESCE((SELECT SUM(w * (w - 1) // 2) FROM pairw), 0)
            AS BIGINT) AS butterflies
FROM wg"""
    )


def betweenness_sampled_sql(
    sources: tuple[int, ...],
    max_depth: int = 6,
    round_to: int = 6,
) -> str:
    """Unrolled sampled-source Brandes betweenness (plans/betweenness.py
    twin): forward per-level sigma CTEs, backward per-level dependency
    CTEs deepest-first, bc = per-vertex sum over sources."""
    vals = ", ".join(f"(CAST({int(s)} AS BIGINT))" for s in sorted(sources))
    parts = [
        f"""bsrc AS MATERIALIZED (
  SELECT t.s FROM (VALUES {vals}) t(s) JOIN v ON t.s = v.id)""",
        """vis0 AS MATERIALIZED (
  SELECT s, s AS v, 0 AS d, CAST(1.0 AS DOUBLE) AS sigma FROM bsrc)""",
        "fr0 AS MATERIALIZED (SELECT * FROM vis0)",
    ]
    for l in range(1, max_depth + 1):
        parts.append(
            f"""cand{l} AS MATERIALIZED (
  SELECT f.s, e.dst AS v, SUM(f.sigma) AS sigma
  FROM fr{l - 1} f JOIN e ON f.v = e.src GROUP BY f.s, e.dst)"""
        )
        parts.append(
            f"""fr{l} AS MATERIALIZED (
  SELECT c.s, c.v, {l} AS d, c.sigma FROM cand{l} c
  LEFT JOIN vis{l - 1} o ON c.s = o.s AND c.v = o.v
  WHERE o.v IS NULL)"""
        )
        parts.append(
            f"""vis{l} AS MATERIALIZED (
  SELECT * FROM vis{l - 1} UNION ALL SELECT * FROM fr{l})"""
        )
    vis = f"vis{max_depth}"
    parts.append(
        f"""acc{max_depth} AS MATERIALIZED (
  SELECT CAST(NULL AS BIGINT) AS s, CAST(NULL AS BIGINT) AS v,
         CAST(NULL AS DOUBLE) AS delta WHERE 1 = 0)"""
    )
    for l in range(max_depth - 1, -1, -1):
        parts.append(
            f"""contrib{l} AS MATERIALIZED (
  SELECT n.s, n.v,
         SUM(n.sigma / sc.sigma * (1.0 + COALESCE(a.delta, 0.0))) AS delta
  FROM (SELECT * FROM {vis} WHERE d = {l}) n
  JOIN e ON n.v = e.src
  JOIN (SELECT * FROM {vis} WHERE d = {l + 1}) sc
    ON sc.s = n.s AND sc.v = e.dst
  LEFT JOIN acc{l + 1} a ON a.s = sc.s AND a.v = sc.v
  GROUP BY n.s, n.v)"""
        )
        parts.append(
            f"""acc{l} AS MATERIALIZED (
  SELECT * FROM acc{l + 1} UNION ALL SELECT * FROM contrib{l})"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"""
SELECT vv.v AS id,
       ROUND(COALESCE(b.b, 0.0), {round_to}) AS bc
FROM (SELECT DISTINCT v FROM {vis}) vv
LEFT JOIN (SELECT v, SUM(delta) AS b FROM acc0 WHERE v <> s GROUP BY v) b
  ON vv.v = b.v"""
    )


def exact_substring_pairs_sql(
    window: int = 8, df_cap: int = 50, min_shared: int = 1
) -> str:
    """Exact-substring dup pairs (operators/dedup.py::
    exact_substring_pairs twin): length-``window`` token-window
    md5-prefix hashes, df in [2, df_cap], pair equi-join on the hash."""
    return rf"""WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
  FROM documents),
wins AS MATERIALIZED (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= {window} THEN
             list_transform(range(len(w) - {window} + 1),
               i -> array_to_string(list_slice(w, i + 1, i + {window}), ' '))
             ELSE [] END) AS s
    FROM toks)),
keep AS MATERIALIZED (
  SELECT h FROM wins GROUP BY h
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {df_cap}),
fw AS MATERIALIZED (
  SELECT w.doc_id, w.h FROM wins w JOIN keep USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS shared_windows
FROM fw a JOIN fw b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}"""


def substring_dedup_rewrite_sql(window: int = 8) -> str:
    """Exact-substring corpus rewrite (operators/dedup.py::
    substring_dedup_rewrite twin): keep each window's lexicographically
    first (doc_id, pos) occurrence, drop every token position covered by
    a later occurrence, re-assemble surviving tokens in position order.
    First-occurrence keys pack as doc_id * 2^20 + pos, identical to the
    Spark side."""
    w = int(window)
    return rf"""WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
  FROM documents),
wins AS MATERIALIZED (
  SELECT doc_id, pos,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= {w} THEN range(1, len(w) - {w} + 2)
                  ELSE [] END)::BIGINT AS pos,
           unnest(CASE WHEN len(w) >= {w} THEN
             list_transform(range(len(w) - {w} + 1),
               i -> array_to_string(list_slice(w, i + 1, i + {w}), ' '))
             ELSE [] END) AS s
    FROM toks)),
firsts AS MATERIALIZED (
  SELECT h, MIN(doc_id * 1048576 + pos) AS first_key FROM wins GROUP BY h),
dropped AS MATERIALIZED (
  SELECT DISTINCT doc_id, p FROM (
    SELECT wi.doc_id, wi.pos + unnest(range({w})) AS p
    FROM wins wi JOIN firsts f USING (h)
    WHERE wi.doc_id * 1048576 + wi.pos > f.first_key)),
tokrows AS MATERIALIZED (
  SELECT doc_id,
         unnest(w) AS tok,
         unnest(range(1, len(w) + 1))::BIGINT AS p
  FROM toks),
kept AS MATERIALIZED (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.p) AS kept_text
  FROM tokrows t LEFT JOIN dropped d ON t.doc_id = d.doc_id AND t.p = d.p
  WHERE d.doc_id IS NULL
  GROUP BY t.doc_id)
SELECT b.doc_id,
       COALESCE(k.kept_text, '') AS kept_text,
       len(b.w)::BIGINT AS n_tokens,
       COALESCE(nd.nd, 0)::BIGINT AS n_dropped
FROM toks b
LEFT JOIN kept k ON b.doc_id = k.doc_id
LEFT JOIN (SELECT doc_id, COUNT(*) AS nd FROM dropped GROUP BY doc_id) nd
  ON b.doc_id = nd.doc_id"""


def spam_mass_sql(
    iters: int,
    seeds: dict[int, float],
    damping: float = 0.85,
    round_to: int = 6,
) -> str:
    """Relative spam mass (Gyongyi et al., "Link Spam Detection Based
    on Mass Estimation", VLDB'06): sm(v) = (pr(v) - trust(v)) / pr(v)
    where pr is global PageRank and trust is TrustRank — PageRank
    personalized to a trusted seed set (Gyongyi et al. VLDB'04).  Both
    chains unrolled at the same fixed iteration count."""
    d = damping
    total = float(sum(seeds.values()))
    vals = ", ".join(
        f"(CAST({int(v)} AS BIGINT), CAST({w / total!r} AS DOUBLE))"
        for v, w in sorted(seeds.items())
    )
    parts = [
        "r0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM v)",
        f"seedp AS MATERIALIZED (SELECT * FROM (VALUES {vals}) s(id, p))",
        """pvec0 AS MATERIALIZED (
  SELECT v.id, COALESCE(seedp.p, 0.0) AS p
  FROM v LEFT JOIN seedp ON v.id = seedp.id)""",
        """pvec AS MATERIALIZED (
  SELECT id, CASE WHEN (SELECT SUM(p) FROM pvec0) < 1.0 - 1e-12
             THEN p / (SELECT SUM(p) FROM pvec0) ELSE p END AS p
  FROM pvec0)""",
        "t0 AS MATERIALIZED (SELECT id, p AS rank FROM pvec)",
    ]
    for i in range(iters):
        parts.append(
            f"""rd{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM r{i}
  LEFT JOIN od ON r{i}.id = od.src WHERE od.src IS NULL)"""
        )
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {d})/(SELECT n FROM nn) + {d}*(SELECT dm FROM rd{i})/(SELECT n FROM nn)
         + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.deg) AS contrib
    FROM r{i} r JOIN e ON r.id = e.src JOIN od ON e.src = od.src
    GROUP BY e.dst
  ) c ON v.id = c.id)"""
        )
        parts.append(
            f"""td{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0) AS dm FROM t{i}
  LEFT JOIN od ON t{i}.id = od.src WHERE od.src IS NULL)"""
        )
        parts.append(
            f"""t{i + 1} AS MATERIALIZED (
  SELECT pvec.id,
         pvec.p * ((1.0 - {d}) + {d} * (SELECT dm FROM td{i}))
         + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM pvec LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.deg) AS contrib
    FROM t{i} r JOIN e ON r.id = e.src JOIN od ON e.src = od.src
    GROUP BY e.dst
  ) c ON pvec.id = c.id)"""
        )
    body = ",\n".join(parts)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + body
        + f"""
SELECT r.id,
       ROUND((r.rank - t.rank) / r.rank, {round_to}) AS spam_mass
FROM r{iters} r JOIN t{iters} t ON r.id = t.id"""
    )


def _landmark_label_ctes(landmarks: tuple[int, ...], iters: int) -> str:
    """CTE chain ending in ``lbl`` (landmark, id, d_from, d_to) — the
    plans/bfs.py::landmark_labels twin (forward + reversed-edge
    multi-source BFS, -1 = unreachable within the hop budget)."""
    parts = ["er AS MATERIALIZED (SELECT dst AS src, src AS dst FROM e)"]
    f_finals, b_finals = [], []
    for k, s in enumerate(landmarks):
        for tag, rel, finals in (("f", "e", f_finals), ("g", "er", b_finals)):
            parts.append(
                f"{tag}{k}b0 AS MATERIALIZED "
                f"(SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)"
            )
            for i in range(iters):
                p, c = f"{tag}{k}b{i}", f"{tag}{k}b{i + 1}"
                parts.append(
                    f"""{c} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS INT) AS dist FROM (
    SELECT id, dist FROM {p}
    UNION ALL
    SELECT r.dst AS id, b.dist + 1 AS dist
    FROM {p} b JOIN {rel} r ON b.id = r.src
  ) GROUP BY id)"""
                )
            finals.append(
                f"SELECT CAST({s} AS BIGINT) AS landmark, id, dist "
                f"FROM {tag}{k}b{iters}"
            )
    parts.append(
        "lfwd AS MATERIALIZED (" + "\nUNION ALL\n".join(f_finals) + ")"
    )
    parts.append(
        "lbwd AS MATERIALIZED (" + "\nUNION ALL\n".join(b_finals) + ")"
    )
    parts.append(
        """lbl AS MATERIALIZED (
  SELECT COALESCE(f.landmark, g.landmark) AS landmark,
         COALESCE(f.id, g.id) AS id,
         CAST(COALESCE(f.dist, -1) AS INT) AS d_from,
         CAST(COALESCE(g.dist, -1) AS INT) AS d_to
  FROM lfwd f FULL OUTER JOIN lbwd g
    ON f.landmark = g.landmark AND f.id = g.id)"""
    )
    return ",\n".join(parts)


def landmark_labels_sql(landmarks: tuple[int, ...], iters: int) -> str:
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + _landmark_label_ctes(landmarks, iters)
        + "\nSELECT landmark, id, d_from, d_to FROM lbl"
    )


def landmark_dist_est_sql(
    landmarks: tuple[int, ...],
    iters: int,
    pair_ids: tuple[int, ...],
) -> str:
    """Distance-oracle query-path twin: est(u, w) = min over landmarks
    of d_to(u) + d_from(w) for all ordered pairs u <> w drawn from
    ``pair_ids``."""
    vals = ", ".join(f"(CAST({int(i)} AS BIGINT))" for i in pair_ids)
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + _landmark_label_ctes(landmarks, iters)
        + f""",
qids AS MATERIALIZED (SELECT i FROM (VALUES {vals}) t(i)),
qpairs AS MATERIALIZED (
  SELECT a.i AS u, b.i AS w FROM qids a JOIN qids b ON a.i <> b.i)
SELECT p.u, p.w,
       CAST(MIN(ul.d_to + wl.d_from) AS INT) AS dist_est
FROM qpairs p
JOIN lbl ul ON ul.id = p.u AND ul.d_to >= 0
JOIN lbl wl ON wl.id = p.w AND wl.d_from >= 0
           AND wl.landmark = ul.landmark
GROUP BY p.u, p.w"""
    )


def pack_sequences_sql(seq_len: int = 2048) -> str:
    """Twin of operators/corpus.py::pack_sequences — deterministic
    hash-shuffled concat-and-chunk packing; the window cumsum here IS
    the two-phase prefix sum's defining global order."""
    return rf"""
WITH d AS MATERIALIZED (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
      AS n_tokens,
    ('0x'||substr(md5('pack:'||doc_id), 1, 15))::BIGINT AS k
  FROM documents),
p AS MATERIALIZED (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (
      ORDER BY k, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_offset
  FROM d WHERE n_tokens > 0)
SELECT doc_id, n_tokens, start_offset,
  CAST(start_offset // {seq_len} AS BIGINT) AS seq_first,
  CAST((start_offset + n_tokens - 1) // {seq_len} AS BIGINT) AS seq_last,
  CAST((start_offset + n_tokens - 1) // {seq_len}
       - start_offset // {seq_len} + 1 AS BIGINT) AS n_seqs
FROM p
"""


def densest_subgraph_sql(rounds: int = 12, num: int = 5, den: int = 2) -> str:
    """Twin of plans/densest.py::densest_subgraph — unrolled greedy
    peel rounds; peel condition and best-round argmax are exact BIGINT
    cross-multiplications, so no float enters the decision."""
    parts = ["cur0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM sym)"]
    stat_rows = []
    all_rows = []
    for r in range(rounds):
        parts.append(
            f"""se{r} AS MATERIALIZED (
  SELECT s.a, s.b FROM sym s
  JOIN cur{r} x ON s.a = x.id JOIN cur{r} y ON s.b = y.id)"""
        )
        parts.append(
            f"""st{r} AS MATERIALIZED (
  SELECT {r} AS r,
         (SELECT COUNT(*) FROM se{r}) // 2 AS e,
         (SELECT COUNT(DISTINCT a) FROM se{r}) AS v)"""
        )
        parts.append(
            f"""cur{r + 1} AS MATERIALIZED (
  SELECT a AS id FROM se{r} GROUP BY a
  HAVING COUNT(*) * {den} * (SELECT v FROM st{r})
         > {num} * (SELECT e FROM st{r}))"""
        )
        stat_rows.append(f"SELECT r, e, v FROM st{r}")
        all_rows.append(f"SELECT DISTINCT a AS id, {r} AS r FROM se{r}")
    parts.append(
        "stats AS MATERIALIZED (SELECT * FROM ("
        + "\nUNION ALL\n".join(stat_rows)
        + ") WHERE v > 0)"
    )
    parts.append(
        """best AS MATERIALIZED (
  SELECT r FROM stats s WHERE NOT EXISTS (
    SELECT 1 FROM stats t
    WHERE t.e * s.v > s.e * t.v
       OR (t.e * s.v = s.e * t.v AND t.r < s.r)))"""
    )
    parts.append(
        "allv AS MATERIALIZED (" + "\nUNION ALL\n".join(all_rows) + ")"
    )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + """
SELECT a.id, CAST(b.r AS INT) AS peel_round,
       ROUND(CAST(s.e AS DOUBLE) / s.v, 6) AS density
FROM allv a JOIN best b ON a.r = b.r JOIN stats s ON s.r = b.r"""
    )


def _kmeans_parts(k: int, iters: int) -> list[str]:
    """Shared CTE list for the deterministic hash-init Lloyd unroll
    (twin of operators/ann.py::kmeans_assign); the final assignment
    lives in ``a{iters}`` and the exploded (vec_id, i, x) table in
    ``dims``.  Centroids ROUNDed to 12 after every update and squared
    distances to 9 before each argmin, same as the engine, so summation
    order can't flip an assignment."""
    parts = [
        """dims AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)""",
        f"""seeds AS MATERIALIZED (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY ('0x'||substr(md5('km:'||vec_id), 1, 15))::BIGINT,
                    vec_id) - 1 AS INT) AS cluster
  FROM embeddings
  QUALIFY cluster < {k})""",
        """c0 AS MATERIALIZED (
  SELECT s.cluster, d.i, d.x AS c
  FROM seeds s JOIN dims d USING (vec_id))""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""d{t} AS MATERIALIZED (
  SELECT d.vec_id, c.cluster,
         ROUND(SUM((d.x - c.c) * (d.x - c.c)), 9) AS d2
  FROM dims d JOIN c{t - 1} c ON d.i = c.i
  GROUP BY d.vec_id, c.cluster)"""
        )
        parts.append(
            f"""a{t} AS MATERIALIZED (
  SELECT vec_id, cluster FROM d{t}
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY d2, cluster) = 1)"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
  SELECT a.cluster, d.i, ROUND(AVG(d.x), 12) AS c
  FROM a{t} a JOIN dims d USING (vec_id)
  GROUP BY a.cluster, d.i)"""
        )
    return parts


def kmeans_assign_sql(k: int = 8, iters: int = 2) -> str:
    """Twin of operators/ann.py::kmeans_assign — see _kmeans_parts."""
    return (
        "WITH "
        + ",\n".join(_kmeans_parts(k, iters))
        + f"""
SELECT vec_id, CAST(cluster AS INT) AS cluster FROM a{iters}"""
    )


def semdedup_keep_list_sql(
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.5,
    round_to: int = 6,
) -> str:
    """Twin of operators/dedup.py::semdedup_keep_list — the same
    deterministic k-means unroll, then naive within-cluster all-pairs
    cosine restricted to smaller ids (the engine's blocked candidates
    have recall 1 within its 1e-5 margin and are exact-rescored, so the
    candidate-free oracle matches); sentinel -2.0 when a vector has no
    smaller-id cluster-mate."""
    parts = _kmeans_parts(k, iters)
    parts.append(
        f"""asg AS MATERIALIZED (
  SELECT vec_id, CAST(cluster AS INT) AS cluster FROM a{iters})"""
    )
    parts.append(
        """nrm AS MATERIALIZED (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM dims GROUP BY vec_id)"""
    )
    parts.append(
        """dots AS MATERIALIZED (
  SELECT ga.vec_id AS id, gb.vec_id AS id_s, SUM(da.x * db.x) AS dot
  FROM asg ga JOIN asg gb
    ON ga.cluster = gb.cluster AND gb.vec_id < ga.vec_id
  JOIN dims da ON da.vec_id = ga.vec_id
  JOIN dims db ON db.vec_id = gb.vec_id AND db.i = da.i
  GROUP BY 1, 2)"""
    )
    parts.append(
        f"""mx AS MATERIALIZED (
  SELECT d.id AS vec_id,
         MAX(ROUND(d.dot / (na.nrm * nb.nrm), {round_to})) AS mcs
  FROM dots d
  JOIN nrm na ON na.vec_id = d.id
  JOIN nrm nb ON nb.vec_id = d.id_s
  GROUP BY 1)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.vec_id, a.cluster,
       COALESCE(mx.mcs, -2.0) AS max_cos_smaller,
       COALESCE(mx.mcs, -2.0) < {threshold} AS keep
FROM asg a LEFT JOIN mx USING (vec_id)"""
    )


def source_token_kl_sql(round_to: int = 6) -> str:
    """Twin of textstats.source_token_kl — identical per-row IEEE
    p*ln(p/q) term over exact BIGINT counts, ROUNDed fold."""
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents),
st AS MATERIALIZED (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cst
  FROM toks WHERE tok <> '' GROUP BY source, tok),
ns AS MATERIALIZED (
  SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY source),
ct AS MATERIALIZED (
  SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY tok),
tot AS MATERIALIZED (SELECT CAST(SUM(ns) AS BIGINT) AS tot FROM ns)
SELECT s.source,
       CAST(MIN(n.ns) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(SUM(
         (CAST(s.cst AS DOUBLE) / CAST(n.ns AS DOUBLE))
         * LN((CAST(s.cst AS DOUBLE) * CAST(t.tot AS DOUBLE))
              / (CAST(n.ns AS DOUBLE) * CAST(c.ct AS DOUBLE)))
       ), {round_to}) AS kl_divergence
FROM st s JOIN ct c ON s.tok = c.tok
JOIN ns n ON s.source = n.source
CROSS JOIN tot t
GROUP BY s.source
"""


def containment_pairs_sql(
    n: int = 3, threshold: float = 0.6, round_to: int = 6
) -> str:
    """Twin of operators/dedup.py::containment_pairs — naive all-pairs
    exact n-gram containment (the engine's prefix filter has recall 1.0
    by the SSJoin prefix theorem, so the candidate-free oracle matches)."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
sizes AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE), {round_to})
         AS containment
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
WHERE ROUND(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE), {round_to})
      >= {threshold}
"""


def containment_topk_sql(
    n: int = 3, threshold: float = 0.6, k: int = 10, round_to: int = 6
) -> str:
    """Twin of operators/dedup.py::containment_topk — the census twin
    ranked and sliced per contained doc.  The engine's two-stage
    class-level cut is provably equal to this doc-level definition
    (see the operator docstring), so no class machinery appears here:
    the oracle IS the semantics."""
    census = containment_pairs_sql(n, threshold, round_to)
    return rf"""
WITH census AS MATERIALIZED ({census})
SELECT doc_a, doc_b, containment,
       CAST(row_number() OVER (
         PARTITION BY doc_a ORDER BY containment DESC, doc_b ASC
       ) AS INT) AS rank
FROM census
QUALIFY row_number() OVER (
  PARTITION BY doc_a ORDER BY containment DESC, doc_b ASC
) <= {k}
"""


def bm25_topk_sql(
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    round_to: int = 6,
) -> str:
    """Twin of operators/textstats.py::bm25_topk — identical IEEE
    expression shape (explicit parens mirror Spark's association) over
    exact BIGINT counts; top-k ordered by the ROUNDED score then
    doc_id so the cut is cross-engine stable."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    k1p1 = f"CAST({k1 + 1.0!r} AS DOUBLE)"
    k1d = f"CAST({k1!r} AS DOUBLE)"
    omb = f"CAST({1.0 - b!r} AS DOUBLE)"
    bd = f"CAST({b!r} AS DOUBLE)"
    return rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''),
dl AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
tf AS MATERIALIZED (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ({inlist}) GROUP BY doc_id, tok),
dfreq AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(SUM(
         LN(CAST(1 AS DOUBLE)
            + (CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE)
               + CAST(0.5 AS DOUBLE))
              / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(t.tf AS DOUBLE) * {k1p1})
            / (CAST(t.tf AS DOUBLE)
               + {k1d} * ({omb} + {bd} * CAST(d.dl AS DOUBLE)
                 / (CAST(s.tot AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
       ), {round_to}) AS bm25
FROM tf t
JOIN dfreq f ON t.tok = f.tok
JOIN dl d ON t.doc_id = d.doc_id
CROSS JOIN stats s
GROUP BY t.doc_id
ORDER BY bm25 DESC, t.doc_id ASC
LIMIT {k}
"""


def simrank_pairs_sql(
    nseeds: int = 8,
    c: float = 0.8,
    iters: int = 3,
    round_to: int = 6,
    lo: int | None = None,
    hi: int | None = None,
) -> str:
    """Twin of plans/simrank.py::simrank_pairs — need-driven pair sets
    unrolled top-down (n0..n{iters-1}), values folded bottom-up
    (s{iters-1}..s0) with exact diagonal counts; identical IEEE
    (c * tsum) / (na * nb) shape.  Seeds = top-``nseeds`` part-range
    nodes by distinct-edge in-degree (ties -> smaller id)."""
    from graphjet_spark.sources.testdata import PART_OFS, SUPP_OFS

    lo = PART_OFS if lo is None else lo
    hi = SUPP_OFS if hi is None else hi
    parts = [
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM graph_edges)",
        "ind AS MATERIALIZED ("
        "SELECT dst, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY dst)",
        f"""sds AS MATERIALIZED (
  SELECT dst AS id FROM e WHERE dst >= {lo} AND dst < {hi}
  GROUP BY dst ORDER BY COUNT(*) DESC, dst ASC LIMIT {nseeds})""",
        "n0 AS MATERIALIZED ("
        "SELECT a.id AS a, b.id AS b FROM sds a JOIN sds b ON a.id < b.id)",
    ]
    for t in range(1, iters):
        parts.append(
            f"""n{t} AS MATERIALIZED (
  SELECT DISTINCT LEAST(ea.src, eb.src) AS a, GREATEST(ea.src, eb.src) AS b
  FROM n{t - 1} p JOIN e ea ON ea.dst = p.a JOIN e eb ON eb.dst = p.b
  WHERE ea.src <> eb.src)"""
        )
    prev = None
    for lvl in range(iters - 1, -1, -1):
        x = f"x{lvl}"
        parts.append(
            f"""{x} AS MATERIALIZED (
  SELECT p.a, p.b, ea.src AS ia, eb.src AS ib
  FROM n{lvl} p JOIN e ea ON ea.dst = p.a JOIN e eb ON eb.dst = p.b)"""
        )
        if prev is None:
            parts.append(
                f"""t{lvl} AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS tsum
  FROM {x} WHERE ia = ib GROUP BY a, b)"""
            )
        else:
            parts.append(
                f"""t{lvl} AS MATERIALIZED (
  SELECT COALESCE(d.a, o.a) AS a, COALESCE(d.b, o.b) AS b,
         COALESCE(d.dsum, CAST(0 AS DOUBLE))
           + COALESCE(o.osum, CAST(0 AS DOUBLE)) AS tsum
  FROM (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS dsum
        FROM {x} WHERE ia = ib GROUP BY a, b) d
  FULL OUTER JOIN (
        SELECT xx.a, xx.b, SUM(s.s) AS osum
        FROM (SELECT a, b, LEAST(ia, ib) AS la, GREATEST(ia, ib) AS lb
              FROM {x} WHERE ia <> ib) xx
        JOIN {prev} s ON xx.la = s.a AND xx.lb = s.b
        GROUP BY xx.a, xx.b) o
  ON d.a = o.a AND d.b = o.b)"""
            )
        parts.append(
            f"""s{lvl} AS MATERIALIZED (
  SELECT t.a, t.b,
         (CAST({c!r} AS DOUBLE) * t.tsum) / CAST(na.n * nb.n AS DOUBLE) AS s
  FROM t{lvl} t JOIN ind na ON t.a = na.dst JOIN ind nb ON t.b = nb.dst)"""
        )
        prev = f"s{lvl}"
    return (
        oracle_cte().rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT a AS node_a, b AS node_b, ROUND(s, {round_to}) AS simrank FROM s0
"""
    )


def wl_refinement_sql(rounds: int) -> str:
    """Twin of plans/wl.py::wl_colors — unrolled hashed-WL rounds.
    Commutative multiset hashing (SUM of md5-prefix hashes mod 2^31 +
    neighbor count), identical string/md5 arithmetic on both engines;
    DuckDB's HUGEINT SUM prints the same digits the Spark BIGINT SUM
    does, so the concatenated hash inputs are byte-identical."""

    def h(s: str) -> str:
        return f"(('0x'||substr(md5({s}),1,15))::BIGINT)"

    parts = [
        """l0 AS MATERIALIZED (
  SELECT v.id, CAST(COALESCE(d.d, 0) AS BIGINT) AS c
  FROM v LEFT JOIN (SELECT a, COUNT(*) AS d FROM sym GROUP BY a) d
  ON v.id = d.a)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""h{t} AS MATERIALIZED (
  SELECT id AS nid, {h("'wl:'||c")} % 2147483647 AS hc FROM l{t - 1})"""
        )
        parts.append(
            f"""g{t} AS MATERIALIZED (
  SELECT s.a AS id, SUM(q.hc) AS sm, COUNT(*) AS n
  FROM sym s JOIN h{t} q ON s.b = q.nid GROUP BY s.a)"""
        )
        parts.append(
            f"""l{t} AS MATERIALIZED (
  SELECT l.id,
         {h("'wl:'||l.c||':'||COALESCE(g.sm, 0)||':'||COALESCE(g.n, 0)")} AS c
  FROM l{t - 1} l LEFT JOIN g{t} g ON l.id = g.id)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT l.id, l.c AS wl_color, cs.class_size
FROM l{rounds} l
JOIN (SELECT c, CAST(COUNT(*) AS BIGINT) AS class_size
      FROM l{rounds} GROUP BY c) cs ON l.c = cs.c"""
    )


def bowtie_sql(rounds: int) -> str:
    """Twin of plans/bowtie.py::bowtie_decomposition — unrolled
    frontier-BFS sweeps.  Whole-set expansion per round is equivalent
    to the engine's frontier-only expansion (older vertices' neighbors
    were already folded in; the blocked set is constant), so the sets
    are identical at any round budget, saturated or not."""
    parts = [
        """eb AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM graph_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM graph_edges
    WHERE (src + dst) % 5 = 0))""",
        """dg AS MATERIALIZED (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT src AS id FROM eb UNION ALL SELECT dst FROM eb) GROUP BY id)""",
        "pv AS MATERIALIZED "
        "(SELECT id FROM dg ORDER BY deg DESC, id ASC LIMIT 1)",
        "f0 AS MATERIALIZED (SELECT id FROM pv)",
        "b0 AS MATERIALIZED (SELECT id FROM pv)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""f{t} AS MATERIALIZED (
  SELECT id FROM f{t - 1}
  UNION SELECT e.dst FROM eb e JOIN f{t - 1} r ON e.src = r.id)"""
        )
        parts.append(
            f"""b{t} AS MATERIALIZED (
  SELECT id FROM b{t - 1}
  UNION SELECT e.src FROM eb e JOIN b{t - 1} r ON e.dst = r.id)"""
        )
    parts.append(
        f"core AS MATERIALIZED (SELECT id FROM f{rounds} "
        f"INTERSECT SELECT id FROM b{rounds})"
    )
    parts.append(
        f"ins AS MATERIALIZED (SELECT id FROM b{rounds} "
        "EXCEPT SELECT id FROM core)"
    )
    parts.append(
        f"outs AS MATERIALIZED (SELECT id FROM f{rounds} "
        "EXCEPT SELECT id FROM core)"
    )
    parts.append("ti0 AS MATERIALIZED (SELECT id FROM ins)")
    parts.append("bo0 AS MATERIALIZED (SELECT id FROM outs)")
    for t in range(1, rounds + 1):
        parts.append(
            f"""ti{t} AS MATERIALIZED (
  SELECT id FROM ti{t - 1}
  UNION
  SELECT e.dst FROM eb e JOIN ti{t - 1} r ON e.src = r.id
  WHERE e.dst NOT IN (SELECT id FROM core))"""
        )
        parts.append(
            f"""bo{t} AS MATERIALIZED (
  SELECT id FROM bo{t - 1}
  UNION
  SELECT e.src FROM eb e JOIN bo{t - 1} r ON e.dst = r.id
  WHERE e.src NOT IN (SELECT id FROM core))"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT v.id,
       CASE WHEN c.id IS NOT NULL THEN 'CORE'
            WHEN i.id IS NOT NULL THEN 'IN'
            WHEN o.id IS NOT NULL THEN 'OUT'
            WHEN fi.id IS NOT NULL AND bo.id IS NOT NULL THEN 'TUBE'
            WHEN fi.id IS NOT NULL OR bo.id IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISC' END AS bowtie_class
FROM v
LEFT JOIN core c ON v.id = c.id
LEFT JOIN ins i ON v.id = i.id
LEFT JOIN outs o ON v.id = o.id
LEFT JOIN ti{rounds} fi ON v.id = fi.id
LEFT JOIN bo{rounds} bo ON v.id = bo.id"""
    )


def mutual_nn_sql(split_label: int = 5) -> str:
    """Twin of operators/ann.py::mutual_nn_pairs — cross-corpus top-1
    each way on the ROUND(cosine, 6) + id tie-break total order, then
    the mutuality join."""
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
ca AS MATERIALIZED (SELECT vec_id, e FROM v WHERE label < {split_label}),
cb AS MATERIALIZED (SELECT vec_id, e FROM v WHERE label >= {split_label}),
s AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_cosine_similarity(a.e, b.e), 6) AS cosine
  FROM ca a CROSS JOIN cb b),
ba AS MATERIALIZED (
  SELECT id_a, id_b, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rn FROM s)
  WHERE rn = 1),
bb AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY id_b ORDER BY cosine DESC, id_a ASC) AS rn FROM s)
  WHERE rn = 1)
SELECT ba.id_a, ba.id_b, ba.cosine
FROM ba JOIN bb ON ba.id_a = bb.id_a AND ba.id_b = bb.id_b
"""


def bpe_merge_stats_sql(k: int = 50) -> str:
    """Twin of operators/textstats.py::bpe_merge_stats — word-type
    frequencies, then per-type adjacent symbol pairs with the </w>
    end marker, exact BIGINT counts, top-k on (count DESC, pair)."""
    return rf"""
WITH wf AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents)
  WHERE w <> '' GROUP BY w),
pr AS MATERIALIZED (
  SELECT unnest(
    list_append(
      CASE WHEN length(w) >= 2 THEN
        list_transform(range(1, length(w)),
                       i -> substr(w, i, 1) || ' ' || substr(w, i + 1, 1))
      ELSE []::VARCHAR[] END,
      substr(w, length(w), 1) || ' </w>')) AS pair,
    freq
  FROM wf)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pr GROUP BY pair
ORDER BY pair_count DESC, pair ASC LIMIT {k}
"""


def rec_backtest_sql(
    cutoff: str,
    k: int = 5,
    min_cooccurrence: int = 2,
    max_edges_per_node: int = 500,
    round_to: int = 6,
) -> str:
    """Twin of operators/projection.py::rec_backtest — the capped
    one-mode projection at the cutoff, per-user top-k by summed pair
    weight (exact BIGINT score, item tie-break), precision vs
    first-after-cutoff engagements."""
    return (
        oracle_cte().rstrip()
        + f""",
bef AS MATERIALIZED (
  SELECT * FROM interactions WHERE ts <= TIMESTAMP '{cutoff}'),
latest AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY seq DESC) AS rn
    FROM bef) WHERE rn <= {max_edges_per_node}),
sim AS MATERIALIZED (
  SELECT l1.dst AS a, l2.dst AS b, CAST(COUNT(*) AS BIGINT) AS weight
  FROM latest l1 JOIN latest l2 ON l1.src = l2.src AND l1.dst < l2.dst
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_cooccurrence}),
sym AS MATERIALIZED (
  SELECT a AS x, b AS y, weight FROM sim
  UNION ALL
  SELECT b AS x, a AS y, weight FROM sim),
ui AS MATERIALIZED (SELECT DISTINCT src, dst FROM bef),
cand AS MATERIALIZED (
  SELECT u.src, s.y, CAST(SUM(s.weight) AS BIGINT) AS score
  FROM ui u JOIN sym s ON u.dst = s.x GROUP BY 1, 2),
cand2 AS MATERIALIZED (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM ui u WHERE u.src = c.src AND u.dst = c.y)),
recs AS MATERIALIZED (
  SELECT src, y FROM (
    SELECT src, y, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY score DESC, y ASC) AS rn
    FROM cand2) WHERE rn <= {k}),
fut AS MATERIALIZED (
  SELECT src, dst AS y FROM interactions GROUP BY src, dst
  HAVING MIN(ts) > TIMESTAMP '{cutoff}'),
fl AS MATERIALIZED (
  SELECT r.src, CASE WHEN f.y IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM recs r LEFT JOIN fut f ON r.src = f.src AND r.y = f.y)
SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_recs,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), {round_to})
            END AS precision
FROM fl"""
    )


def markov_backtest_sql(cutoff: str, round_to: int = 6) -> str:
    """Twin of operators/sessions.py::markov_backtest."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
         event_type AS t
  FROM events),
pr AS MATERIALIZED (
  SELECT t,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt_us
  FROM base),
pp AS MATERIALIZED (SELECT * FROM pr WHERE nxt IS NOT NULL),
train AS MATERIALIZED (
  SELECT t AS type_from, nxt AS type_to, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pp WHERE nxt_us <= epoch_us(TIMESTAMP '{cutoff}')
  GROUP BY 1, 2),
pred AS MATERIALIZED (
  SELECT type_from, type_to AS predicted FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY type_from ORDER BY cnt DESC, type_to ASC) AS rn
    FROM train) WHERE rn = 1),
ev AS MATERIALIZED (
  SELECT t AS type_from, nxt AS actual FROM pp
  WHERE nxt_us > epoch_us(TIMESTAMP '{cutoff}')),
sc AS MATERIALIZED (
  SELECT CASE WHEN p.predicted = e.actual THEN 1 ELSE 0 END AS ok
  FROM ev e LEFT JOIN pred p ON e.type_from = p.type_from)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(ok) AS BIGINT) AS n_correct,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(ok) AS DOUBLE) / COUNT(*), {round_to})
            END AS accuracy
FROM sc"""
    


def coreness_sql(iters: int) -> str:
    """Twin of plans/kcore.py::coreness — unrolled h-index rounds over
    the (vertex, value) histogram form; every c is re-CAST to BIGINT so
    DuckDB's HUGEINT window sums never change the compared dtype."""
    parts = [
        "c0 AS MATERIALIZED (SELECT a AS id, CAST(COUNT(*) AS BIGINT) "
        "AS c FROM sym GROUP BY a)"
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""h{t} AS MATERIALIZED (
  SELECT s.a, q.c, CAST(COUNT(*) AS BIGINT) AS n
  FROM sym s JOIN c{t - 1} q ON s.b = q.id GROUP BY 1, 2)"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
  SELECT a AS id, CAST(MAX(LEAST(c, cum)) AS BIGINT) AS c FROM (
    SELECT a, c, SUM(n) OVER (PARTITION BY a ORDER BY c DESC) AS cum
    FROM h{t}) GROUP BY a)"""
        )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT id, c AS coreness FROM c{iters}"
    )


def coverage_select_sql(k: int, n: int = 2) -> str:
    """Twin of operators/corpus.py::coverage_select — k unrolled greedy
    max-coverage rounds (argmax by exact BIGINT gain, doc_id ties) over
    n-gram coverage (same gram construction as containment_pairs_sql)."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    parts = [
        r"""wd AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)""",
        f"""tk AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM wd)
  WHERE tok <> '')""",
    ]
    finals = []
    for r in range(1, k + 1):
        src = (
            "tk"
            if r == 1
            else f"(SELECT * FROM tk WHERE tok NOT IN "
            f"(SELECT tok FROM c{r - 1})) x"
        )
        parts.append(
            f"""g{r} AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
  FROM {src} GROUP BY doc_id)"""
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT doc_id, gain FROM g{r} "
            "ORDER BY gain DESC, doc_id ASC LIMIT 1)"
        )
        prev = f"SELECT tok FROM c{r - 1} UNION " if r > 1 else ""
        parts.append(
            f"""c{r} AS MATERIALIZED (
  {prev}SELECT DISTINCT t.tok FROM tk t JOIN w{r} USING (doc_id))"""
        )
        finals.append(
            f"SELECT CAST({r} AS INT) AS round, doc_id, gain, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered_total "
            f"FROM w{r}"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)
    )


def degree_gini_sql(round_to: int = 9) -> str:
    """Twin of plans/graphstats.py::degree_gini — grouped-value exact
    Gini; HUGEINT products (== Spark decimal(38,0)), doubled-W form so
    no intermediate division, one float64 division on the final row."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
dg AS MATERIALIZED (
  SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
hist AS MATERIALIZED (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM dg GROUP BY d),
blk AS MATERIALIZED (
  SELECT d, c, SUM(c) OVER (ORDER BY d) - c AS r_prev FROM hist),
ag AS MATERIALIZED (
  SELECT SUM(CAST(d AS HUGEINT)
             * (2 * CAST(c AS HUGEINT) * CAST(r_prev AS HUGEINT)
                + CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) + 1))) AS w,
         SUM(CAST(c AS HUGEINT)) AS n,
         SUM(CAST(d AS HUGEINT) * CAST(c AS HUGEINT)) AS s
  FROM blk)
SELECT CAST(n AS BIGINT) AS n_vertices,
       CAST(s AS BIGINT) AS total_degree,
       CASE WHEN n > 0 AND s > 0 THEN
         ROUND((CAST(w AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), {round_to})
       END AS gini
FROM ag"""
    )


def walk_sample_subgraph_sql(length: int = 4, seed_pct: int = 5) -> str:
    """Twin of plans/walks.py::walk_sample_subgraph — the hash-walk
    chain seeded at the md5-threshold vertices, then the induced-edge
    semi-joins."""
    parts = [
        "adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs "
        "FROM e GROUP BY src)",
        f"""sw0 AS MATERIALIZED (
  SELECT src AS walk_id, src AS vertex FROM adj
  WHERE (('0x' || substr(md5('smp:' || src), 1, 15))::BIGINT) % 100
        < {seed_pct})""",
    ]
    unions = ["SELECT vertex FROM sw0"]
    for i in range(1, length + 1):
        parts.append(
            f"""sw{i} AS MATERIALIZED (
  SELECT f.walk_id,
         a.nbrs[CAST((('0x' || substr(md5(f.walk_id || ':' || '{i}'), 1, 15))::BIGINT
                % len(a.nbrs)) + 1 AS BIGINT)] AS vertex
  FROM sw{i - 1} f JOIN adj a ON f.vertex = a.src)"""
        )
        unions.append(f"SELECT vertex FROM sw{i}")
    parts.append(
        "vis AS MATERIALIZED (SELECT DISTINCT vertex FROM ("
        + " UNION ALL ".join(unions)
        + "))"
    )
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + ",\n"
        + ",\n".join(parts)
        + """
SELECT e.src, e.dst
FROM e
JOIN vis va ON e.src = va.vertex
JOIN vis vb ON e.dst = vb.vertex"""
    )


def cms_heavy_hitters_sql(width: int, depth: int, topk: int) -> str:
    """Twin of the cms_heavy_hitters gate (operators/sketches.py
    cms_counters + cms_estimate over events.user_id)."""
    rows = ", ".join(f"({i})" for i in range(depth))
    return f"""
WITH cnt AS MATERIALIZED (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY user_id),
tk AS MATERIALIZED (
  SELECT user_id, true_cnt FROM cnt
  ORDER BY true_cnt DESC, user_id ASC LIMIT {topk}),
rws AS MATERIALIZED (
  SELECT * FROM (VALUES {rows})
  r(rw)),
ctr AS MATERIALIZED (
  SELECT r.rw,
         (('0x'||substr(md5('cms:'||r.rw||':'||e.user_id),1,15))::BIGINT)
           % {width} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events e CROSS JOIN rws r GROUP BY 1, 2)
SELECT t.user_id, t.true_cnt, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
FROM tk t CROSS JOIN rws r
LEFT JOIN ctr c ON c.rw = r.rw
 AND c.bucket =
  (('0x'||substr(md5('cms:'||r.rw||':'||t.user_id),1,15))::BIGINT)
    % {width}
GROUP BY t.user_id, t.true_cnt
"""


def hll_distinct_users_sql(m: int) -> str:
    """Twin of the hll_distinct_users gate — w1 and alpha derived from
    ``m`` exactly as operators/sketches.py does, so changing HLL_M can
    never desync the oracle from the engine."""
    if m & (m - 1) or m < 2:
        raise ValueError(f"m must be a power of two >= 2, got {m}")
    w1 = 60 - (m.bit_length() - 1) + 1
    num = 0.7213 / (1 + 1.079 / m) * m * m * float(2**w1)
    return f"""
WITH hs AS MATERIALIZED (
  SELECT event_type,
         (('0x'||substr(md5('hll:'||user_id),1,15))::BIGINT) AS h
  FROM events),
reg AS MATERIALIZED (
  SELECT event_type, h % {m} AS bucket,
         MAX(CASE WHEN (h // {m}) = 0 THEN {w1}
                  ELSE {w1} - LENGTH(BIN(h // {m})) END) AS mx
  FROM hs GROUP BY 1, 2),
ag AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS present,
         SUM((1::BIGINT << ({w1} - mx))) AS s_present
  FROM reg GROUP BY 1),
tru AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
  FROM events GROUP BY 1)
SELECT t.event_type, t.true_distinct,
  ROUND(CASE WHEN {num!r}
                 / CAST(a.s_present
                        + ({m} - a.present) * (1::BIGINT << {w1})
                        AS DOUBLE) < {2.5 * m!r}
              AND ({m} - a.present) > 0
        THEN {float(m)!r}
             * ln({float(m)!r} / CAST({m} - a.present AS DOUBLE))
        ELSE {num!r}
             / CAST(a.s_present
                    + ({m} - a.present) * (1::BIGINT << {w1})
                    AS DOUBLE) END, 4) AS hll_est
FROM tru t JOIN ag a USING (event_type)
"""


def curriculum_buckets_sql(round_to: int = 6) -> str:
    """Twin of operators/textstats.py::curriculum_buckets — quartile
    thresholds via quantile_cont (== Spark percentile interpolation)
    over the rounded per-doc log-likelihoods, row-local bucket
    assignment, per-bucket means."""
    lp = unigram_logprob_sql()
    return f"""
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(avg_logprob), {round_to}) AS mean_logprob,
       ROUND(AVG(n_tokens), {round_to}) AS mean_tokens
FROM (
  SELECT l.avg_logprob, l.n_tokens,
         CASE WHEN l.avg_logprob >= t.q3 THEN 1
              WHEN l.avg_logprob >= t.q2 THEN 2
              WHEN l.avg_logprob >= t.q1 THEN 3
              ELSE 4 END AS bucket
  FROM ({lp}) l CROSS JOIN (
    SELECT quantile_cont(avg_logprob, 0.25) AS q1,
           quantile_cont(avg_logprob, 0.50) AS q2,
           quantile_cont(avg_logprob, 0.75) AS q3
    FROM ({lp})) t)
GROUP BY bucket
"""


def chunk_documents_sql(chunk_tokens: int, overlap: int) -> str:
    """Twin of operators/corpus.py::chunk_documents."""
    stride = chunk_tokens - overlap
    return rf"""
WITH wd AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
st AS MATERIALIZED (
  SELECT doc_id, w,
         unnest(CASE WHEN len(w) = 0 THEN []::BIGINT[]
                ELSE range(0, len(w), {stride}) END) AS s,
         generate_subscripts(CASE WHEN len(w) = 0 THEN []::BIGINT[]
                ELSE range(0, len(w), {stride}) END, 1) - 1 AS chunk_idx
  FROM wd)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(s + 1 AS INT) AS start_tok,
       CAST(LEAST({chunk_tokens}, len(w) - s) AS INT) AS n_chunk_tokens,
       array_to_string(w[s + 1 : s + {chunk_tokens}], ' ') AS chunk_text
FROM st
"""


def triangle_significance_sql(round_to: int = 6) -> str:
    """Twin of plans/graphstats.py::triangle_significance — observed
    triangles (the degree-ordered count) vs the configuration-model
    closed form (sum d(d-1))^3 / (6 (sum d)^3) from HUGEINT-exact
    moments, three float64 ops on the reduced row."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + GRAPH_PRELUDE.strip()
        + f""",
und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM graph_edges WHERE src <> dst),
dg2 AS MATERIALIZED (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY a),
mom AS MATERIALIZED (
  SELECT SUM(CAST(d AS HUGEINT)) AS s1,
         SUM(CAST(d AS HUGEINT) * (CAST(d AS HUGEINT) - 1)) AS s2
  FROM dg2),
tdeg AS MATERIALIZED (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id),
orient AS MATERIALIZED (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi
  FROM und u JOIN tdeg da ON u.a = da.id JOIN tdeg db ON u.b = db.id),
obs AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS observed
  FROM orient e1
  JOIN orient e2 ON e1.hi = e2.lo
  JOIN orient e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
SELECT o.observed,
       ROUND((CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE))
             * (CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE))
             * (CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE)) / 6.0,
             {round_to}) AS expected_cfg,
       CASE WHEN m.s2 > 0 THEN
         ROUND(CAST(o.observed AS DOUBLE)
               / ((CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE))
                  * (CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE))
                  * (CAST(m.s2 AS DOUBLE) / CAST(m.s1 AS DOUBLE)) / 6.0),
               {round_to})
       END AS ratio
FROM obs o CROSS JOIN mom m"""
    )


def directed_triad_census_sql() -> str:
    """Twin of plans/triangles.py::directed_triad_census — but derived
    INDEPENDENTLY via the naive directed wedge joins the Spark plan
    deliberately avoids: 3-cycles as e1.e2.e3 closing chains (each
    distinct cycle appears once per rotation, hence // 3) and
    transitive triples as path-plus-shortcut joins.  The two engines
    arriving at the same numbers from structurally different
    enumerations is the cross-check."""
    return (
        oracle_cte().rstrip()
        + ",\n"
        + """
dirs AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM graph_edges WHERE src <> dst),
cyc AS MATERIALIZED (
  SELECT CAST(COUNT(*) // 3 AS BIGINT) AS cyclic_triples
  FROM dirs e1
  JOIN dirs e2 ON e1.dst = e2.src
  JOIN dirs e3 ON e2.dst = e3.src AND e3.dst = e1.src
  WHERE e1.src <> e2.dst),
trans AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS transitive_triples
  FROM dirs e1
  JOIN dirs e2 ON e1.dst = e2.src
  JOIN dirs e3 ON e3.src = e1.src AND e3.dst = e2.dst
  WHERE e1.src <> e2.dst)
SELECT cyclic_triples, transitive_triples FROM cyc CROSS JOIN trans
""".strip()
    )


def pii_scrub_sql() -> str:
    """Twin of operators/textstats.py::pii_scrub over plant_pii'd text.

    The planted corpus is otherwise digit-free (checked: zero digits /
    '@' in every documents tier), so every match context is controlled
    and the Java-regex lookarounds in the phone pattern reduce to the
    plain RE2-safe body below — the general lookaround semantics are
    pinned by the Python-re mirror pytest instead.  Same sequential
    family order as the engine (email, then ipv4, then phone: earlier
    replacements consume the text later patterns see)."""
    email = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    phone = r"\+?\d[\d().\- ]{7,}\d"
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id
         || '@mail' || (doc_id % 5) || '.example.com' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || (doc_id % 200)
         || '.' || (doc_id % 193) || '.' || (doc_id % 250) ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' call +1 555-01'
         || lpad((doc_id % 100)::VARCHAR, 2, '0') || ' ok' ELSE '' END AS t
  FROM documents),
e AS MATERIALIZED (
  SELECT doc_id,
    len(regexp_extract_all(t, '{email}')) AS n_email,
    regexp_replace(t, '{email}', '<EMAIL>', 'g') AS t
  FROM planted),
i AS MATERIALIZED (
  SELECT doc_id, n_email,
    len(regexp_extract_all(t, '{ipv4}')) AS n_ipv4,
    regexp_replace(t, '{ipv4}', '<IPV4>', 'g') AS t
  FROM e)
SELECT doc_id,
  regexp_replace(t, '{phone}', '<PHONE>', 'g') AS text_scrubbed,
  n_email, n_ipv4,
  len(regexp_extract_all(t, '{phone}')) AS n_phone
FROM i
"""


def latest_capture_sql() -> str:
    """Twin of plans/build_edges.py::latest_capture over the
    sources/pages.py::synth_captures fixture (three SQL-expressible
    capture spellings per document; see that docstring for the layout).

    Canonicalization twin of build_edges.canonical_url_expr: the Spark
    side drops a non-root trailing slash with a Java lookbehind
    ``(?<=[^/])/$``, which DuckDB's RE2 cannot parse — the capture +
    backreference form ``([^/])/$ -> \\1`` is the RE2-safe equivalent.
    ``arg_max`` needs no tiebreak: warc_ts offsets (+0/+2/+5) are
    distinct per canonical URL by construction."""
    origin = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)"
    return f"""
WITH caps AS MATERIALIZED (
  SELECT doc_id,
         'https://h' || (doc_id % 16) || '.example.org/Docs/' || doc_id
           || '#top' AS url,
         1767225600 + doc_id * 10 AS ts, lang
  FROM documents
  UNION ALL
  SELECT doc_id,
         'HTTPS://H' || (doc_id % 16) || '.EXAMPLE.ORG/Docs/' || doc_id
           || '/' AS url,
         1767225600 + doc_id * 10 + 5, lang
  FROM documents
  UNION ALL
  SELECT doc_id,
         'https://h' || (doc_id % 16) || '.example.org/Docs/' || doc_id
           || '/#frag' AS url,
         1767225600 + doc_id * 10 + 2, lang
  FROM documents WHERE doc_id % 3 = 0),
stripped AS MATERIALIZED (
  SELECT *, regexp_replace(trim(url), '#.*$', '') AS u FROM caps),
canon AS MATERIALIZED (
  SELECT *,
         regexp_replace(
           lower(regexp_extract(u, '{origin}', 1))
             || regexp_replace(u, '{origin}', ''),
           '([^/])/$', '\\1') AS canonical_url
  FROM stripped)
SELECT canonical_url,
       arg_max(url, ts) AS kept_url,
       CAST(max(ts) AS BIGINT) AS warc_epoch,
       arg_max(lang, ts) AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_captures
FROM canon GROUP BY canonical_url
"""


def redirect_resolution_sql(rounds: int = 3) -> str:
    """Twin of plans/build_edges.py::resolve_redirects over the
    min-out-neighbor functional map (src % 4 == 0): the identical
    pointer-doubling recurrence unrolled — each round a LEFT self-join
    on the current pointer, chain_len accumulating the absorbed hops —
    then the terminal test against the redirecting-src set."""
    parts = [
        "r AS MATERIALIZED (SELECT src, MIN(dst) AS dst FROM graph_edges"
        " WHERE src % 4 = 0 GROUP BY src)",
        "p0 AS MATERIALIZED (SELECT src, dst,"
        " CAST(1 AS BIGINT) AS chain_len FROM r)",
    ]
    for i in range(rounds):
        parts.append(
            f"p{i + 1} AS MATERIALIZED (SELECT p.src,"
            f" COALESCE(q.dst, p.dst) AS dst,"
            f" CAST(p.chain_len + COALESCE(q.chain_len, 0) AS BIGINT)"
            f" AS chain_len"
            f" FROM p{i} p LEFT JOIN p{i} q ON p.dst = q.src)"
        )
    return (
        oracle_cte()
        + ", "
        + ",\n".join(parts)
        + f"""
SELECT p.src, p.dst AS final_dst, p.chain_len,
       CAST(CASE WHEN h.src IS NULL THEN 1 ELSE 0 END AS INT) AS resolved
FROM p{rounds} p
LEFT JOIN (SELECT DISTINCT src FROM r) h ON p.dst = h.src
"""
    )


def host_graph_fold_sql() -> str:
    """Twin of plans/build_edges.py::host_graph over the URL-shaped
    projection of graph_edges (host = id % 8)."""
    return (
        oracle_cte()
        + """
, u AS MATERIALIZED (
  SELECT 'https://h' || (src % 8) || '.example.org/p' || src AS src_url,
         'https://h' || (dst % 8) || '.example.org/p' || dst AS dst_url
  FROM graph_edges)
SELECT regexp_extract(src_url, '^[a-z]+://([^/]+)', 1) AS src_host,
       regexp_extract(dst_url, '^[a-z]+://([^/]+)', 1) AS dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT src_url) AS BIGINT) AS n_src_pages
FROM u GROUP BY 1, 2
"""
    )


def anchor_text_summary_sql() -> str:
    """Twin of plans/build_edges.py::anchor_text_summary over the
    interaction-derived anchor fixture (anchor = 'term' || (src+dst)%7,
    duplicates preserved).  Modal-anchor tie-break = lexicographically
    greatest anchor at max count, matching the engine's
    max(struct(n, anchor))."""
    return (
        oracle_cte()
        + """
, a AS MATERIALIZED (
  SELECT 'https://c' || (src % 8) || '.example.org/u' || src AS src_url,
         'https://p.example.org/t' || dst AS dst_url,
         'term' || ((src + dst) % 7) AS anchor
  FROM interactions),
counts AS MATERIALIZED (
  SELECT dst_url, anchor, CAST(COUNT(*) AS BIGINT) AS n
  FROM a GROUP BY dst_url, anchor),
agg AS MATERIALIZED (
  SELECT dst_url, CAST(SUM(n) AS BIGINT) AS n_anchor_refs,
         CAST(COUNT(*) AS BIGINT) AS n_anchor_terms,
         MAX(n) AS top_n
  FROM counts GROUP BY dst_url),
pick AS MATERIALIZED (
  SELECT c.dst_url, MAX(c.anchor) AS top_anchor, MAX(c.n) AS top_anchor_n
  FROM counts c JOIN agg g ON c.dst_url = g.dst_url AND c.n = g.top_n
  GROUP BY c.dst_url),
ref AS MATERIALIZED (
  SELECT dst_url, CAST(COUNT(DISTINCT src_url) AS BIGINT) AS n_referrers
  FROM a GROUP BY dst_url)
SELECT g.dst_url, g.n_anchor_refs, ref.n_referrers, g.n_anchor_terms,
       pick.top_anchor, pick.top_anchor_n
FROM agg g
JOIN pick ON g.dst_url = pick.dst_url
JOIN ref ON g.dst_url = ref.dst_url
"""
    )


def winnowing_sql(k: int = 5, window: int = 4) -> str:
    """Twin of operators/textstats.py::winnowing_fingerprints (exploded
    to (doc_id, fingerprint) rows): the identical Horner k-gram hash
    (base 257 mod 2^31-1) evaluated positionally — valid because the
    synthetic corpus is ASCII, so ord(char) == utf-8 byte — then window
    minima via a bounded window frame (frames clip at the partition
    end, which also covers the fewer-k-grams-than-window case at the
    single start position), DISTINCT."""
    horner = "CAST(0 AS BIGINT)"
    for j in range(k):
        horner = (
            f"(({horner}) * 257 + ord(substr(text, i + {j}, 1))) % 2147483647"
        )
    return f"""
WITH pos AS MATERIALIZED (
  SELECT doc_id, CAST(unnest(range(1, len(text) - {k} + 2)) AS BIGINT) AS i,
         text
  FROM documents WHERE len(text) >= {k}),
h AS MATERIALIZED (
  SELECT doc_id, i, {horner} AS kh FROM pos),
n AS MATERIALIZED (SELECT doc_id, COUNT(*) AS nk FROM h GROUP BY doc_id),
wm AS MATERIALIZED (
  SELECT doc_id, i, MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
        ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fp
  FROM h)
SELECT DISTINCT wm.doc_id, fp AS fingerprint
FROM wm JOIN n USING (doc_id)
WHERE wm.i <= GREATEST(n.nk - {window} + 1, 1)
"""


def mirror_hosts_sql(
    max_hosts_per_fp: int = 16, min_shared: int = 2, min_overlap: float = 0.5
) -> str:
    """Twin of operators/mirrors.py::mirror_hosts over the planted-
    mirror fixture (every source gets a ``-m`` mirror host carrying the
    docs with doc_id % 4 < 3 verbatim).  Fingerprint = the cross-engine
    md5-prefix BIGINT; the df-cap, pair join, and both ratio formulas
    mirror the Spark plan exactly (DuckDB integer ``/`` is DOUBLE, same
    as Spark's)."""
    return f"""
WITH hd AS MATERIALIZED (
  SELECT source AS host,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
  FROM documents
  UNION ALL
  SELECT source || '-m',
         ('0x' || substr(md5(text), 1, 15))::BIGINT
  FROM documents WHERE doc_id % 4 < 3),
hf AS MATERIALIZED (SELECT DISTINCT host, fp FROM hd),
sizes AS MATERIALIZED (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs FROM hf GROUP BY host),
ok AS MATERIALIZED (
  SELECT fp FROM hf GROUP BY fp HAVING COUNT(*) <= {max_hosts_per_fp}),
capped AS MATERIALIZED (SELECT hf.* FROM hf JOIN ok USING (fp)),
pairs AS MATERIALIZED (
  SELECT a.host AS host_a, b.host AS host_b,
         CAST(COUNT(*) AS BIGINT) AS shared_docs
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.host < b.host
  GROUP BY 1, 2)
SELECT p.host_a, p.host_b, p.shared_docs,
       sa.n_docs AS size_a, sb.n_docs AS size_b,
       ROUND(p.shared_docs / LEAST(sa.n_docs, sb.n_docs), 6) AS overlap,
       ROUND(p.shared_docs / (sa.n_docs + sb.n_docs - p.shared_docs), 6)
         AS jaccard
FROM pairs p
JOIN sizes sa ON p.host_a = sa.host
JOIN sizes sb ON p.host_b = sb.host
WHERE p.shared_docs >= {min_shared}
  AND p.shared_docs / LEAST(sa.n_docs, sb.n_docs) >= {min_overlap}
"""


def page_change_rate_sql(
    n_captures: int = 5, interval_s: int = 86_400, round_to: int = 6
) -> str:
    """Twin of operators/crawl.py::page_change_rate over the
    sources/pages.py::synth_change_captures fixture (one URL per doc,
    ``n_captures`` visits at a regular ``interval_s`` cadence, content
    version = ``(doc_id + i) // 3 - doc_id // 3``).  Fingerprint is the
    cross-engine md5-prefix BIGINT; the lag window, Cho-Garcia-Molina
    estimator, and rounding mirror the Spark plan exactly."""
    return f"""
WITH caps AS MATERIALIZED (
  SELECT 'https://h' || CAST(doc_id % 16 AS VARCHAR)
           || '.example.org/Docs/' || CAST(doc_id AS VARCHAR) AS url,
         1767225600 + doc_id * 1000 + i * {interval_s} AS ts,
         ('0x' || substr(md5(
            'doc ' || CAST(doc_id AS VARCHAR) || ' version '
            || CAST((doc_id + i) // 3 - doc_id // 3 AS VARCHAR)
          ), 1, 15))::BIGINT AS fp
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, {n_captures - 1})) AS i)),
marked AS MATERIALIZED (
  SELECT url, ts, fp,
         lag(fp) OVER (PARTITION BY url ORDER BY ts) AS prev_fp
  FROM caps),
agg AS MATERIALIZED (
  SELECT url,
         CAST(COUNT(*) AS BIGINT) AS n_captures,
         CAST(SUM(CASE WHEN prev_fp IS NOT NULL AND fp <> prev_fp
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         CAST(MAX(ts) - MIN(ts) AS BIGINT) AS span_s
  FROM marked GROUP BY url)
SELECT url, n_captures, n_changes, span_s,
       ROUND(CAST(n_changes AS DOUBLE) / CAST(span_s AS DOUBLE) * 86400,
             {round_to}) AS lambda_naive_day,
       ROUND(-LN((CAST(n_captures - 1 AS DOUBLE) - n_changes + 0.5)
                 / (CAST(n_captures - 1 AS DOUBLE) + 0.5))
             / (CAST(span_s AS DOUBLE) / CAST(n_captures - 1 AS DOUBLE))
             * 86400, {round_to}) AS lambda_cgm_day,
       ROUND(1.0 - EXP(
               LN((CAST(n_captures - 1 AS DOUBLE) - n_changes + 0.5)
                  / (CAST(n_captures - 1 AS DOUBLE) + 0.5))
               / (CAST(span_s AS DOUBLE) / CAST(n_captures - 1 AS DOUBLE))
               * 86400), {round_to}) AS p_stale_1d
FROM agg WHERE span_s > 0
"""


def _kn_model_ctes() -> str:
    """Shared CTE chain for the interpolated Kneser-Ney bigram model
    (twin of operators/lm.py::kn_bigram_model, discount 0.75):
    whitespace bigrams by 1-based list indexing, exact count tables,
    and the probability with the identical parenthesization."""
    return r"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tks
  FROM documents),
bi AS MATERIALIZED (
  SELECT doc_id, tks[i] AS w1, tks[i + 1] AS w2
  FROM (SELECT doc_id, tks,
               CAST(unnest(range(1, len(tks))) AS BIGINT) AS i
        FROM tk)),
cbi AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2),
cw1 AS MATERIALIZED (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n1f
  FROM cbi GROUP BY w1),
cw2 AS MATERIALIZED (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n2b FROM cbi GROUP BY w2),
tot AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM cbi),
model AS MATERIALIZED (
  SELECT cbi.w1, cbi.w2, cbi.c,
         (cbi.c - 0.75) / cw1.c1
           + (0.75 * cw1.n1f / cw1.c1) * (cw2.n2b / (SELECT t FROM tot))
           AS p_kn
  FROM cbi JOIN cw1 USING (w1) JOIN cw2 USING (w2))
"""


def kn_bigram_topk_sql(k: int = 50, round_to: int = 6) -> str:
    """Twin of operators/lm.py::kn_bigram_topk — top-k corpus bigrams
    by count with smoothed probabilities; (c, w1, w2) is a unique sort
    key so the LIMIT boundary is cross-engine stable."""
    return f"""{_kn_model_ctes()}
SELECT w1, w2, c, ROUND(p_kn, {round_to}) AS p_kn
FROM model ORDER BY c DESC, w1, w2 LIMIT {k}
"""


def kn_doc_perplexity_sql(round_to: int = 6) -> str:
    """Twin of operators/lm.py::kn_doc_perplexity — per-doc perplexity
    under the corpus KN bigram model."""
    return f"""{_kn_model_ctes()}
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(EXP(-AVG(LN(m.p_kn))), {round_to}) AS perplexity
FROM bi b JOIN model m USING (w1, w2)
GROUP BY b.doc_id
"""


def gopher_quality_flags_sql() -> str:
    r"""Twin of operators/textstats.py::gopher_quality_flags — the
    seven Gopher A1 rules as identical regex/array folds (RE2 and Java
    regex agree on every pattern used: alternation, \n, \s, classes,
    (^|\n) anchoring, ($|\n) line ends)."""
    stops = " + ".join(
        f"CAST(list_contains(lw, '{s}') AS INT)"
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    return rf"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS w,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars,
         len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym,
         len(string_split_regex(text, '\n')) AS n_lines,
         len(regexp_extract_all(text, '(^|\n)\s*[-•*]')) AS n_bullet,
         len(regexp_extract_all(text, '(\.\.\.|…)(\n|$)')) AS n_ell
  FROM documents),
ext AS MATERIALIZED (
  SELECT doc_id, n_words, chars, n_sym, n_lines, n_bullet, n_ell,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha,
         list_transform(w, x -> lower(x)) AS lw
  FROM base),
flags AS MATERIALIZED (
  SELECT doc_id, n_words,
         CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r_wordcount,
         CAST(CAST(chars AS DOUBLE) / n_words >= 3.0
              AND CAST(chars AS DOUBLE) / n_words <= 10.0 AS INT)
           AS r_meanlen,
         CAST(CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS INT) AS r_symbol,
         CAST(CAST(n_bullet AS DOUBLE) / n_lines <= 0.9 AS INT) AS r_bullet,
         CAST(CAST(n_ell AS DOUBLE) / n_lines <= 0.3 AS INT) AS r_ellipsis,
         CAST(CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS INT) AS r_alpha,
         CAST(({stops}) >= 2 AS INT) AS r_stop
  FROM ext)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       r_wordcount, r_meanlen, r_symbol, r_bullet, r_ellipsis, r_alpha,
       r_stop,
       CAST(r_wordcount + r_meanlen + r_symbol + r_bullet + r_ellipsis
            + r_alpha + r_stop = 7 AS INT) AS keep
FROM flags
"""


def warc_roundtrip_sql() -> str:
    """Twin of the WARC connector round-trip gate: reconstruct the
    synth_captures fixture (same three spellings/offsets as
    latest_capture_sql) straight from the documents table with
    md5(text) payload fingerprints and byte lengths — matching rows
    prove the WARC write/read cycle preserved every record exactly."""
    return """
SELECT 'https://h' || (doc_id % 16) || '.example.org/Docs/' || doc_id
         || '#top' AS url,
       1767225600 + doc_id * 10 AS warc_epoch, lang,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
UNION ALL
SELECT 'HTTPS://H' || (doc_id % 16) || '.EXAMPLE.ORG/Docs/' || doc_id
         || '/',
       1767225600 + doc_id * 10 + 5, lang, md5(text),
       CAST(octet_length(encode(text)) AS BIGINT)
FROM documents
UNION ALL
SELECT 'https://h' || (doc_id % 16) || '.example.org/Docs/' || doc_id
         || '/#frag',
       1767225600 + doc_id * 10 + 2, lang, md5(text),
       CAST(octet_length(encode(text)) AS BIGINT)
FROM documents WHERE doc_id % 3 = 0
"""


def bloom_decontamination_sql(
    n: int = 3, mod: int = 97, m_bits: int = 1 << 16, k: int = 4
) -> str:
    """Twin of operators/dedup.py::bloom_decontamination_flags — the
    identical Bloom construction (k md5-prefix probes mod m over the
    benchmark grams' distinct bit set), so estimates VALUE-match."""
    concat = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    gram_list = (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(range(1, len(w) - {n} + 2), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
    bit = (
        "((('0x' || substr(md5(tok || ':' || CAST(i AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {m_bits})"
    )
    return rf"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({gram_list}) AS tok FROM w)
  WHERE tok <> ''),
bits AS MATERIALIZED (
  SELECT DISTINCT {bit} AS bit
  FROM (SELECT DISTINCT tok FROM grams WHERE doc_id % {mod} = 0)
  CROSS JOIN range(0, {k}) t(i)),
probe AS MATERIALIZED (
  SELECT g.doc_id, g.tok, {bit} AS bit
  FROM grams g CROSS JOIN range(0, {k}) t(i)
  WHERE g.doc_id % {mod} <> 0),
pass AS MATERIALIZED (
  SELECT doc_id, tok FROM probe JOIN bits USING (bit)
  GROUP BY doc_id, tok HAVING COUNT(*) = {k})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bloom_grams
FROM pass GROUP BY doc_id
"""


def paragraph_dedup_sql(para_tokens: int = 16) -> str:
    """Twin of operators/dedup.py::paragraph_dedup_rewrite — same
    fixed-window paragraphs, same 60-bit md5-prefix content hash, same
    struct-min (doc_id, para_idx) first-occurrence key grouped on
    (h, ptext) so hash collisions cannot drop distinct paragraphs."""
    return rf"""
WITH wd AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents),
st AS MATERIALIZED (
  SELECT doc_id, w,
         unnest(CASE WHEN len(w) = 0 THEN []::BIGINT[]
                ELSE range(0, len(w), {para_tokens}) END) AS s,
         generate_subscripts(CASE WHEN len(w) = 0 THEN []::BIGINT[]
                ELSE range(0, len(w), {para_tokens}) END, 1) - 1 AS para_idx
  FROM wd),
paras AS MATERIALIZED (
  SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
         array_to_string(w[s + 1 : s + {para_tokens}], ' ') AS ptext
  FROM st),
hashed AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5(ptext), 1, 15))::BIGINT AS h FROM paras),
own AS MATERIALIZED (
  SELECT h, ptext,
         (MIN({{'d': doc_id, 'p': para_idx}})).d AS fdoc,
         (MIN({{'d': doc_id, 'p': para_idx}})).p AS fpar
  FROM hashed GROUP BY h, ptext),
kept AS MATERIALIZED (
  SELECT p.doc_id, p.para_idx, p.ptext
  FROM hashed p JOIN own USING (h, ptext)
  WHERE p.doc_id = own.fdoc AND p.para_idx = own.fpar),
agg AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_paras,
         string_agg(ptext, ' ' ORDER BY para_idx) AS new_text
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CAST(ceil(len(d.w) / CAST({para_tokens} AS DOUBLE)) AS BIGINT)
         AS n_paras,
       COALESCE(a.kept_paras, 0) AS kept_paras,
       COALESCE(a.new_text, '') AS text
FROM wd d LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------------ pandas link oracles
# Pure-pandas twins of ``plans/build_edges.extract_link_rows`` and
# ``extract_anchor_rows`` over the same pinned grammar
# (``functions/webtext``); the tests compare the two.


def resolve_url(hrefs: pd.Series, base_urls: pd.Series) -> pd.Series:
    """Resolve hrefs against base urls: absolute urls pass through,
    host-relative ``/path`` joins the base's scheme://host."""
    is_abs = hrefs.str.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
    origin = base_urls.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", expand=False)
    return hrefs.where(is_abs, origin.str.cat(hrefs))


def _resolve_targets(hrefs: pd.Series, base: pd.Series, idx) -> pd.Series:
    """Shared href post-processing of both extractors: resolve each
    exploded href against its page's base url, then canonicalize —
    keeping link rows and anchor rows byte-identical by construction."""
    resolved = resolve_url(
        hrefs.reset_index(drop=True), base.iloc[idx].reset_index(drop=True)
    )
    return canonicalize_url(resolved)


def extract_links(html: pd.Series, base_urls: pd.Series) -> pd.DataFrame:
    """Explode each page into its outgoing links.

    Returns a DataFrame with columns ``(page_idx, dst_url)`` where
    ``page_idx`` indexes into the input series (positional).  Duplicate
    hrefs within a page are preserved (dedup is a later, explicit stage
    — reference F11, algorithms/counting/TopSecondDegreeByCount.java:99-103).
    Catches EVERY ``href=`` (nav/link/area included) — deliberately
    broader than :func:`extract_anchors`' anchor-tag-only view.
    """
    text = decode_html(html).reset_index(drop=True)
    base = base_urls.reset_index(drop=True)
    found = text.str.findall(_HREF_RE)
    exploded = found.explode().dropna()
    if exploded.empty:
        return pd.DataFrame({"page_idx": pd.Series(dtype="int64"),
                             "dst_url": pd.Series(dtype="object")})
    idx = exploded.index.to_numpy()
    return pd.DataFrame(
        {
            "page_idx": idx,
            "dst_url": _resolve_targets(exploded, base, idx).to_numpy(),
        }
    )


def extract_anchors(html: pd.Series, base_urls: pd.Series) -> pd.DataFrame:
    """Explode each page into (link target, anchor text) pairs.

    Returns ``(page_idx, dst_url, anchor)`` — the href resolution and
    canonicalization are byte-identical to :func:`extract_links`, with
    the anchor's inner text carried alongside.  Anchor text is the
    classic off-page relevance signal (what OTHER pages call a url);
    duplicate hrefs are preserved, mirroring the link multiset."""
    text = decode_html(html).reset_index(drop=True)
    base = base_urls.reset_index(drop=True)
    found = text.str.findall(_ANCHOR_RE)
    exploded = found.explode().dropna()
    if exploded.empty:
        return pd.DataFrame(
            {
                "page_idx": pd.Series(dtype="int64"),
                "dst_url": pd.Series(dtype="object"),
                "anchor": pd.Series(dtype="object"),
            }
        )
    idx = exploded.index.to_numpy()
    hrefs = exploded.str[0]
    anchors = exploded.str[1].reset_index(drop=True)
    return pd.DataFrame(
        {
            "page_idx": idx,
            "dst_url": _resolve_targets(hrefs, base, idx).to_numpy(),
            "anchor": anchors.to_numpy(),
        }
    )
