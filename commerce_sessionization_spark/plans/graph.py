"""Graph family of the query catalog: the co-purchase and part-graph queries.

Two graphs built from the TPC-H tables feed the iterative operators of
``operators.graph``:

- the customer<->part **co-purchase graph** (orders ⋈ lineitem), one
  builder, ``_copurchase_graph``, for PageRank (uniform, personalized and
  weighted) and HITS;
- the part<->part **co-occurrence graph** (parts sharing an order basket),
  ``_part_pair_edges`` on the Spark side and ``_PART_PAIRS`` in every
  DuckDB oracle, for triangle counts, k-core, label propagation and the
  two shortest-path queries.

Each oracle replays the operator's fixed rounds as chained CTEs. Each
exact PageRank or HITS query has a ``_fast`` twin on the double-precision
scale path that shares its body and differs only in ``exact=`` and the
output projection (``_score``). ``plans/queries.py`` registers these queries in the
catalog; ``pagerank_neardup(_fast)`` stay there beside the dedup family,
whose shingle CTE their prelude builds on, and import ``_pagerank_sql``
and ``_score`` from here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from commerce_sessionization_spark.operators.graph import (
    hits,
    k_core,
    label_propagation,
    pagerank,
    shortest_paths,
    triangle_counts,
    weighted_shortest_paths,
)
from commerce_sessionization_spark.plans.base import _quant
from commerce_sessionization_spark.sources.tables import load_table


def _score(col: F.Column, exact: bool, name: str) -> F.Column:
    """Output projection of a score: the exact (oracle) mode floors it to
    12 digits as ``{name}_q12`` for the hash compare; the double scale
    path rounds it to 6 as ``{name}_r6``, stable enough for a rows-only
    check."""
    if exact:
        return _quant(col, 12).alias(f"{name}_q12")
    return F.round(col, 6).alias(f"{name}_r6")


# --------------------------------------------------------------------------
# Co-purchase graph: PageRank (uniform, personalized, weighted) and HITS
# --------------------------------------------------------------------------

def _copurchase_graph(spark: SparkSession, sf_dir: str, weighted: bool = False):
    """Customer<->part bipartite graph from order lines (~600k edges at
    sf0.1): edge generation is one join, so — unlike the near-dup graph,
    whose cost is all in pair generation — PageRank here is dominated by
    the per-iteration join+agg arithmetic. That makes it the bench
    vehicle for the decimal-vs-double split.

    Returns ``(edges, verts, cp)``: the symmetrized ``(src, dst)`` edges,
    every node once, and the pinned ``(c, p)`` pair table the caller
    unpersists once its operator has materialized. ``weighted`` groups
    the pairs into ``(c, p, wt)`` line counts (3.3× smaller per-round
    join input than raw pairs) and carries ``wt`` on both edge
    directions; otherwise the pairs are distinct.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("p"),
    )
    # pinned: edges AND verts derive from cp, and pagerank checkpoints
    # each input separately — unpinned, the pair generation executed twice
    # (profiler: the two ~10 MiB-shuffle pair-gen jobs back to back at the
    # head of every pagerank run). Loop-invariant, so columnar persist
    # (see session.pin); it also makes the callers' unpersist() real.
    cp = (
        pairs.groupBy("c", "p").agg(F.count(F.lit(1)).alias("wt"))
        if weighted
        else pairs.distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    wt = ["wt"] if weighted else []
    edges = cp.select(
        F.col("c").alias("src"), F.col("p").alias("dst"), *wt
    ).unionByName(cp.select(F.col("p").alias("src"), F.col("c").alias("dst"), *wt))
    verts = (
        cp.select(F.col("c").alias("node"))
        .union(cp.select(F.col("p").alias("node")))
        .distinct()
    )
    return edges, verts, cp


def _ppr_seeds(verts: DataFrame) -> DataFrame:
    """The personalized-PageRank cohort: every 50th customer."""
    return verts.filter(
        F.col("node").startswith("c")
        & (F.expr("CAST(substr(node, 2) AS BIGINT)") % 50 == 0)
    )


def _copurchase_pagerank(
    spark: SparkSession,
    sf_dir: str,
    exact: bool,
    personalized: bool = False,
    weighted: bool = False,
) -> DataFrame:
    """5-round PageRank over the co-purchase graph (the body of the
    uniform, personalized and weighted query pairs)."""
    edges, verts, cp = _copurchase_graph(spark, sf_dir, weighted=weighted)
    out = pagerank(
        edges, verts, iterations=5, damping=0.85, exact=exact,
        seeds=_ppr_seeds(verts) if personalized else None,
        weight_col="wt" if weighted else None,
    )
    # pagerank returns a materialized checkpoint: the pair-gen pin can go
    cp.unpersist(blocking=False)
    return out.select("node", _score(F.col("rank"), exact, "rank"))


def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration PageRank over the co-purchase graph, ORACLE MODE
    (decimal-exact replay, same contract as ``pagerank_neardup``)."""
    return _copurchase_pagerank(spark, sf_dir, exact=True)


def q_pagerank_copurchase_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase PageRank on the double-precision SCALE path — the
    headline bench pairs this against ``pagerank_copurchase`` to price
    the decimal replay arithmetic on an iteration-dominated graph."""
    return _copurchase_pagerank(spark, sf_dir, exact=False)


def q_ppr_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the
    co-purchase graph, seeded on every 50th customer — the
    'recommendations relative to a cohort' query: teleport and dangling
    mass return to the seed cohort, so high-rank parts are those
    reachable from THOSE customers' baskets, not globally popular ones.
    ORACLE MODE (decimal-exact replay): the seeded teleport vector
    multiplies p(v) with the same IEEE operand order in both engines,
    so all 5 rounds hash-match at q12 like the uniform variant."""
    return _copurchase_pagerank(spark, sf_dir, exact=True, personalized=True)


def q_ppr_copurchase_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the double-precision SCALE path — the
    variant a 100 TB user actually runs (plain double sums, no decimal
    casts in the loop). Rows-only oracle like the uniform ``_fast``
    twin: float summation is order-dependent, so no engine-independent
    value replay exists; parity with the decimal oracle mode is pinned
    to 2e-6 in tests/test_graph.py."""
    return _copurchase_pagerank(spark, sf_dir, exact=False, personalized=True)


def q_wpagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph: a customer's rank
    splits across parts ∝ how often they bought each one (line-count
    edge weights), not uniformly — repeat purchases matter. ORACLE MODE:
    per-source weight totals sum in exact decimal so the hoisted w/Σw
    coefficients are bit-identical in both engines, and the 5 rounds
    replay hash-comparable at q12 like the uniform and personalized
    variants."""
    return _copurchase_pagerank(spark, sf_dir, exact=True, weighted=True)


def q_wpagerank_copurchase_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank on the double-precision SCALE path (plain
    double w/Σw coefficients and contribution sums). Rows-only oracle;
    parity with the decimal oracle mode pinned to 2e-6 in
    tests/test_graph.py."""
    return _copurchase_pagerank(spark, sf_dir, exact=False, weighted=True)


def _copurchase_hits(spark: SparkSession, sf_dir: str, exact: bool) -> DataFrame:
    """3-round HITS over the directed customer→part graph (the body of
    the ``hits_copurchase`` pair)."""
    _edges, _verts, cp = _copurchase_graph(spark, sf_dir)
    directed = cp.select(F.col("c").alias("src"), F.col("p").alias("dst"))
    out = hits(directed, iterations=3, exact=exact)
    # hits returns a materialized checkpoint: the pair-gen pin can go
    cp.unpersist(blocking=False)
    return out.select(
        "node",
        _score(F.col("authority"), exact, "auth"),
        _score(F.col("hub"), exact, "hub"),
    )


def q_hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the DIRECTED customer→part co-purchase graph: hubs are
    customers whose baskets concentrate on authoritative parts,
    authorities are parts bought by strong hubs — the bipartite ranking
    PageRank's symmetrized walk can't express (it conflates the two
    roles). 3 alternating rounds, decimal-exact sums, L1 normalization
    (see ``operators.graph.hits`` for why L1 replaces the textbook L2:
    no sqrt in the loop, same eigenvector, engine-replayable) — the
    oracle replays every round as chained CTEs.
    """
    return _copurchase_hits(spark, sf_dir, exact=True)


def q_hits_copurchase_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the double-precision SCALE path (plain double hub and
    authority sums, double L1 normalizations). Rows-only oracle; parity
    with the decimal oracle mode pinned to 2e-6 in tests/test_graph.py."""
    return _copurchase_hits(spark, sf_dir, exact=False)


def _hits_sql(rounds: int = 3) -> str:
    """Chained-CTE DuckDB replay of ``operators.graph.hits``
    (exact=True, L1): per round, decimal-summed in-neighbor hubs →
    normalize, decimal-summed out-neighbor authorities → normalize."""
    dec = "DECIMAL(38,18)"
    parts = [f"""WITH e AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 'p' || l_partkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), v AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM v)"""]
    for r in range(1, rounds + 1):
        parts.append(f""", ar{r} AS (
  SELECT v.node,
         CAST(COALESCE(sum(CAST(h.hub AS {dec})), 0) AS DOUBLE) AS authority
  FROM v LEFT JOIN e ON e.dst = v.node
         LEFT JOIN h{r - 1} h ON h.node = e.src
  GROUP BY v.node
), an{r} AS (
  SELECT CAST(COALESCE(sum(CAST(authority AS {dec})), 0) AS DOUBLE) AS s
  FROM ar{r}
), a{r} AS (
  SELECT node, CASE WHEN s > 0 THEN authority / s ELSE 0.0 END AS authority
  FROM ar{r}, an{r}
), hr{r} AS (
  SELECT v.node,
         CAST(COALESCE(sum(CAST(a.authority AS {dec})), 0) AS DOUBLE) AS hub
  FROM v LEFT JOIN e ON e.src = v.node
         LEFT JOIN a{r} a ON a.node = e.dst
  GROUP BY v.node
), hn{r} AS (
  SELECT CAST(COALESCE(sum(CAST(hub AS {dec})), 0) AS DOUBLE) AS s
  FROM hr{r}
), h{r} AS (
  SELECT node, CASE WHEN s > 0 THEN hub / s ELSE 0.0 END AS hub
  FROM hr{r}, hn{r}
)""")
    parts.append(f"""
SELECT a.node,
       CAST(floor(a.authority * 1000000000000.0) AS BIGINT) AS auth_q12,
       CAST(floor(h.hub * 1000000000000.0) AS BIGINT) AS hub_q12
FROM a{rounds} a JOIN h{rounds} h ON h.node = a.node""")
    return "".join(parts)


SQL_HITS_COPURCHASE = _hits_sql(3)


#: Co-purchase bipartite graph: customer <-> part edges from order lines,
#: symmetrized; vertex set = every node that appears in an edge.
_PAGERANK_COPURCHASE_PRELUDE = """
WITH cp AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 'p' || l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), pr_edges AS (
  SELECT c AS src, p AS dst FROM cp UNION ALL SELECT p, c FROM cp
), verts AS (
  SELECT c AS node FROM cp UNION SELECT p FROM cp
)"""


def _pagerank_sql(prelude: str, iterations: int = 5, d: str = "0.85",
                  out_col: str = "doc_id", personalized: bool = False,
                  weighted: bool = False) -> str:
    """Generate the chained-CTE DuckDB twin of ``operators.graph.pagerank``
    (one CTE triple per iteration — recursive CTEs allow only a single
    reference to the working table, and each round needs three).

    ``prelude`` is the leading WITH-chain and must define
    ``pr_edges(src, dst)`` and ``verts(node)`` — plus ``seeds(node)``
    when ``personalized`` — ; the iteration chain and the decimal-exact
    replay arithmetic are graph-independent. The personalized variant
    replays the seeded teleport vector: rank₀ = p, and each round's
    (1−d) and dangling terms multiply p(v) instead of dividing by N —
    the same IEEE operand order the Spark operator uses, so rounds stay
    bit-identical."""
    parts = [prelude.rstrip().rstrip(",") + ","]
    if weighted:
        parts.append("""
nv AS (SELECT count(*)::BIGINT AS n FROM verts),
deg AS (
  SELECT src AS node,
         CAST(sum(CAST(wt AS DECIMAL(27,9))) AS DOUBLE) AS ws
  FROM pr_edges GROUP BY 1
),
coefe AS (
  SELECT e.src, e.dst, CAST(e.wt AS DOUBLE) / w.ws AS coef
  FROM pr_edges e JOIN deg w ON e.src = w.node
),""")
    else:
        parts.append("""
nv AS (SELECT count(*)::BIGINT AS n FROM verts),
deg AS (SELECT src AS node, count(*) AS outdeg FROM pr_edges GROUP BY 1),""")
    if personalized:
        parts.append("""
ns AS (SELECT count(*)::BIGINT AS n FROM seeds),
pers AS (
  SELECT v.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS p
  FROM verts v LEFT JOIN seeds s ON v.node = s.node, ns
),
it0 AS (SELECT node, p AS rank FROM pers)""")
    else:
        parts.append("""
it0 AS (SELECT node, 1.0 / nv.n AS rank FROM verts, nv)""")
    for i in range(1, iterations + 1):
        p = i - 1
        if personalized:
            it_body = f"""it{i} AS (
  SELECT v.node,
         (1.0 - {d}) * v.p + {d} * (COALESCE(c.inr, 0.0) + g.m * v.p) AS rank
  FROM pers v LEFT JOIN con{i} c ON v.node = c.node, dang{i} g
)"""
        else:
            it_body = f"""it{i} AS (
  SELECT v.node,
         (1.0 - {d}) / nv.n + {d} * (COALESCE(c.inr, 0.0) + g.m / nv.n) AS rank
  FROM verts v LEFT JOIN con{i} c ON v.node = c.node, nv, dang{i} g
)"""
        if weighted:
            con_body = f"""con{i} AS (
  SELECT e.dst AS node,
         CAST(sum(CAST(r.rank * e.coef AS DECIMAL(38,18))) AS DOUBLE) AS inr
  FROM it{p} r JOIN coefe e ON e.src = r.node
  GROUP BY 1
)"""
        else:
            con_body = f"""con{i} AS (
  SELECT e.dst AS node,
         CAST(sum(CAST(r.rank / dg.outdeg AS DECIMAL(38,18))) AS DOUBLE) AS inr
  FROM it{p} r JOIN deg dg ON r.node = dg.node JOIN pr_edges e ON e.src = r.node
  GROUP BY 1
)"""
        parts.append(f""",
dang{i} AS (
  SELECT CAST(COALESCE(sum(CAST(r.rank AS DECIMAL(38,18))),
                       0::DECIMAL(38,18)) AS DOUBLE) AS m
  FROM it{p} r LEFT JOIN deg dg ON r.node = dg.node WHERE dg.node IS NULL
), {con_body}, {it_body}""")
    parts.append(f"""
SELECT node AS {out_col},
       CAST(floor(rank * 1000000000000.0) AS BIGINT) AS rank_q12
FROM it{iterations}
""")
    return "".join(parts)


SQL_PAGERANK_COPURCHASE = _pagerank_sql(
    _PAGERANK_COPURCHASE_PRELUDE, out_col="node"
)
_WPAGERANK_COPURCHASE_PRELUDE = """
WITH cp AS (
  SELECT 'c' || o_custkey AS c, 'p' || l_partkey AS p,
         count(*) AS wt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), pr_edges AS (
  SELECT c AS src, p AS dst, wt FROM cp
  UNION ALL SELECT p, c, wt FROM cp
), verts AS (
  SELECT c AS node FROM cp UNION SELECT p FROM cp
)"""

SQL_WPAGERANK_COPURCHASE = _pagerank_sql(
    _WPAGERANK_COPURCHASE_PRELUDE, out_col="node", weighted=True
)

SQL_PPR_COPURCHASE = _pagerank_sql(
    _PAGERANK_COPURCHASE_PRELUDE + """,
seeds AS (
  SELECT node FROM verts
  WHERE node LIKE 'c%' AND CAST(substr(node, 2) AS BIGINT) % 50 = 0
)""",
    out_col="node",
    personalized=True,
)


# --------------------------------------------------------------------------
# Part co-occurrence graph: triangles, k-core, LPA, BFS, Bellman-Ford
# --------------------------------------------------------------------------

def _part_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence edges (parts sharing an order basket), id-ordered.

    Basket-array generation, not a fact self-join: ONE shuffle of
    lineitem (the basket groupBy), then ordered pairs unfold from each
    sorted basket array in a narrow stage — the self-join form shuffles
    the fact table twice for the same DISTINCT pair set (−17% measured
    at sf0.1; the saved exchange is the point at 100 TB). Per-basket
    pair fanout is quadratic in basket size, which TPC-H (and most
    carts) bounds by a small constant. Oracles keep the self-join
    formulation (``_PART_PAIRS``) — identical pair set, independently
    derived.

    Emits the pair MULTISET (one row per co-occurring basket): every
    graph consumer (triangles / k-core / LPA / BFS) normalizes and
    dedupes internally anyway, so a distinct here would only add a
    second full-pair shuffle in front of theirs.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_ps")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ps, (x, i) -> "
                    "transform(slice(_ps, i + 2, size(_ps) - i - 1), "
                    "y -> struct(x as src, y as dst))))"
                )
            ).alias("_p")
        )
        .select("_p.src", "_p.dst")
    )


#: The oracle twin of ``_part_pair_edges``: the undirected part pairs
#: (a < b) as a basket self-join, the body every part-graph oracle's
#: first CTE holds.
_PART_PAIRS = """
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
"""


def _part_pairs_cte(name: str, materialized: bool = True) -> str:
    """``WITH {name} AS [MATERIALIZED] (...)`` over ``_PART_PAIRS``, left
    open for the oracle's next CTE."""
    return f"WITH {name} AS{' MATERIALIZED' if materialized else ''} ({_PART_PAIRS})"


def _from_min_part(
    spark: SparkSession,
    edges: DataFrame,
    run: Callable[[DataFrame, int], DataFrame],
    empty_schema: str,
) -> DataFrame:
    """Run a single-source search from the smallest part key.

    The edges are persisted first (the source lookup and the operator
    both read them; loop-invariant, so columnar persist, see
    ``session.pin``) and released once ``run(edges, source)`` has
    returned its materialized checkpoint. An empty graph has no source
    and gives an empty ``empty_schema`` frame."""
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    src = edges.agg(F.min(F.least(F.col("src"), F.col("dst")))).first()[0]
    out = (
        spark.createDataFrame([], empty_schema)
        if src is None
        else run(edges, int(src))
    )
    edges.unpersist(blocking=False)
    return out


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts + clustering coefficient over the
    part-part co-occurrence graph (parts sharing an order basket).

    Spark runs the degree-ordered compact-forward join (wedge fanout
    bounded by the higher-degree endpoint — the skew-safe formulation);
    the oracle replays the naive id-ordered 3-way join, which yields the
    identical triangle set, so the counts hash-match while the *plans*
    differ — the point of the scale path.
    """
    return triangle_counts(_part_pair_edges(spark, sf_dir))


SQL_TRIANGLE_COUNTS = "\n" + _part_pairs_cte("und", materialized=False) + """, deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node
), tri AS (
  SELECT e1.a AS p, e1.b AS q, e2.b AS r
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), pernode AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT unnest([p, q, r]) AS node FROM tri)
  GROUP BY node
)
SELECT deg.node, degree,
       COALESCE(n_triangles, 0) AS n_triangles,
       CAST(floor(CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)
                  / CAST(degree * (degree - 1) AS DOUBLE) * 1000000.0)
            AS BIGINT) AS cc_q6
FROM deg LEFT JOIN pernode ON pernode.node = deg.node
WHERE degree >= 2
"""


_KCORE_K = 80
_KCORE_ROUNDS = 7


def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part co-purchase graph: fixed-round peeling.

    ``k_core`` removes sub-k-degree nodes (and their edges) for up to 7
    rounds, early-exiting at the fixpoint; the oracle replays all 7
    rounds as chained CTEs — a converged graph passes through later
    rounds unchanged, so both paths agree (the PageRank replayed-oracle
    pattern applied to an anti-join loop). k=80 sits inside the sf0.01
    degree distribution (min 42, median 115), so the peel actually
    cascades for several rounds before stabilizing.
    """
    return k_core(
        _part_pair_edges(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """Chained-CTE replay of `rounds` peel rounds (the SQL twin).

    Every CTE is ``AS MATERIALIZED``: each round references its
    predecessor three times, so DuckDB's default inlining would expand
    the chain into 3^rounds scans of the base table.
    """
    parts = [_part_pairs_cte("e0")]
    for r in range(rounds):
        parts.append(
            f""", d{r} AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r})
  GROUP BY node
), e{r + 1} AS MATERIALIZED (
  SELECT * FROM e{r}
  WHERE a NOT IN (SELECT node FROM d{r} WHERE deg < {k})
    AND b NOT IN (SELECT node FROM d{r} WHERE deg < {k})
)"""
        )
    parts.append(
        f"""
SELECT node, count(*) AS core_degree
FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY node"""
    )
    return "".join(parts)


SQL_KCORE_PARTS = _kcore_sql(_KCORE_K, _KCORE_ROUNDS)


_LPA_ROUNDS = 4


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the part co-purchase graph: fixed-round
    synchronous label propagation with self-vote and smallest-label tie
    break (``operators.graph.label_propagation``). Deterministic rules +
    a fixed round count make the iteration SQL-replayable — the oracle
    chains one (join → count → argmax) CTE per round, the k-core /
    PageRank replayed-oracle pattern applied to a mode computation.
    """
    return label_propagation(_part_pair_edges(spark, sf_dir), rounds=_LPA_ROUNDS)


def _lpa_sql(rounds: int) -> str:
    """Chained-CTE replay: argmax-by-(count desc, label asc) per round.

    ``AS MATERIALIZED`` for the same reason as ``_kcore_sql``: each round
    reads its predecessor once but sits under `rounds` levels of
    nesting, and inlining would re-expand the basket self-join per level.
    """
    parts = [
        _part_pairs_cte("und")
        + """, verts AS MATERIALIZED (
  SELECT DISTINCT node
  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
), adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b, a FROM und
  UNION ALL SELECT node, node FROM verts
), l0 AS MATERIALIZED (
  SELECT node, node AS community FROM verts
)"""
    ]
    for r in range(rounds):
        parts.append(
            f""", c{r} AS MATERIALIZED (
  SELECT adj.node, l.community AS lbl, count(*) AS c
  FROM adj JOIN l{r} l ON adj.nbr = l.node
  GROUP BY adj.node, l.community
), l{r + 1} AS MATERIALIZED (
  SELECT node, lbl AS community
  FROM (SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl ASC) AS rn
        FROM c{r})
  WHERE rn = 1
)"""
        )
    parts.append(f"\nSELECT node, community FROM l{rounds}")
    return "".join(parts)


SQL_LPA_COMMUNITIES = _lpa_sql(_LPA_ROUNDS)


_SSSP_ROUNDS = 4


def q_part_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from the smallest part key over the co-purchase
    graph: frontier-propagated BFS (``operators.graph.shortest_paths``),
    4 rounds. The Spark side joins only each round's frontier against
    the adjacency (broadcast while dimension-sized); the oracle replays
    the same rounds as chained CTEs — for unit weights, full
    min-relaxation IS BFS, and an emptied frontier makes extra rounds
    no-ops, so early exit and full replay agree.
    """
    return _from_min_part(
        spark,
        _part_pair_edges(spark, sf_dir),
        lambda edges, src: shortest_paths(edges, source=src, rounds=_SSSP_ROUNDS),
        "node long, dist int",
    )


def _sssp_sql(rounds: int) -> str:
    parts = [
        _part_pairs_cte("und")
        + """, adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b, a FROM und
), d0 AS MATERIALIZED (
  SELECT min(a) AS node, 0 AS dist FROM und
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
  SELECT * FROM d{r - 1}
  UNION ALL
  SELECT DISTINCT adj.node, {r} AS dist
  FROM adj JOIN d{r - 1} p ON adj.nbr = p.node
  WHERE adj.node NOT IN (SELECT node FROM d{r - 1})
)"""
        )
    parts.append(f"\nSELECT node, dist FROM d{rounds}")
    return "".join(parts)


SQL_PART_HOP_DISTANCES = _sssp_sql(_SSSP_ROUNDS)


_WSSSP_ROUNDS = 5


def q_part_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the co-purchase graph:
    Bellman-Ford min-plus rounds (``graph.weighted_shortest_paths``)
    with deterministic integer weights 1 + (a+b) mod 5 — unlike BFS, a
    reached node's distance keeps improving through cheaper multi-hop
    routes, so every round relaxes ALL distances (broadcast while
    dimension-sized) instead of only a frontier. Fixpoint early-exit ==
    the oracle's full chained-CTE replay, the k-core argument again.
    """
    return _from_min_part(
        spark,
        _part_pair_edges(spark, sf_dir).withColumn(
            "w", 1 + (F.col("src") + F.col("dst")) % 5
        ),
        lambda edges, src: weighted_shortest_paths(
            edges, source=src, rounds=_WSSSP_ROUNDS
        ),
        "node long, dist long",
    )


def _wsssp_sql(rounds: int) -> str:
    parts = [
        _part_pairs_cte("und0")
        + """, adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr, 1 + (a + b) % 5 AS w FROM und0
  UNION ALL SELECT b, a, 1 + (a + b) % 5 FROM und0
), d0 AS MATERIALIZED (
  SELECT min(a) AS node, CAST(0 AS BIGINT) AS dist FROM und0
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT adj.node, p.dist + adj.w
    FROM adj JOIN d{r - 1} p ON adj.nbr = p.node
  ) GROUP BY node
)"""
        )
    parts.append(f"\nSELECT node, dist FROM d{rounds}")
    return "".join(parts)


SQL_PART_WEIGHTED_DISTANCES = _wsssp_sql(_WSSSP_ROUNDS)
