"""Iterative graph operators (north-star surface).

Connected components (min-label propagation with pointer jumping) lives in
``operators/dedup.py`` next to its near-dup use case; this module holds
the general iterative-computation pattern: a driver-side loop over a
bounded iteration count where each round is one join + one aggregation,
exactly how GraphX/Pregel lowers to dataframes.

Two arithmetic modes (round-3 split, prescribed by the round-2 review):

- ``exact=False`` (default — the scale path): plain ``double`` sums.
  Several× cheaper than decimal aggregation at 100 TB; results are
  deterministic for a fixed partitioning but not order-independent, so
  they can drift in the last ulps between engines/runs.
- ``exact=True`` (the oracle mode): floating-point addition is
  order-dependent, so a naive ``sum(contrib)`` would differ between
  engines — and between *runs* — once partitioning changes. Every sum
  casts its addends to ``DECIMAL(38, 18)`` first: each addend is a
  deterministic double (same IEEE ops in any engine), decimal addition
  is exact and therefore order-independent, and one final cast returns
  to double. The DuckDB oracle replays the identical arithmetic, so a
  5-iteration PageRank is hash-comparable bit-for-bit.

The two modes agree to ~1e-12 per rank (asserted in
``tests/test_graph.py``); only the aggregation buffer type differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from commerce_sessionization_spark.session import pin


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(38,18)")


def _sum0(col: F.Column, exact: bool, window=None) -> F.Column:
    """Sum that is 0.0 over no rows, as a double: decimal-exact
    (order-independent) when ``exact``, over ``window`` when given."""
    s = F.sum(_dec(col) if exact else col)
    if window is not None:
        s = s.over(window)
    if exact:
        return F.coalesce(s, F.lit(0).cast("decimal(38,18)")).cast("double")
    return F.coalesce(s, F.lit(0.0))


#: Row count up to which a loop broadcasts its per-round state (ranks,
#: scores, labels, a BFS frontier, distances) into the edge join; the
#: regime is chosen from the measured vertex or frontier count. 4M
#: (id, double) rows are tens of MB. Past it the join shuffles, the plan
#: billion-node graphs need.
_BROADCAST_ROWS = 4_000_000


def _undirected(
    edges: DataFrame, src_col: str, dst_col: str, weight_col: str | None = None
) -> DataFrame:
    """One ``(a, b)`` row per undirected edge with ``a < b``: least /
    greatest fold the orientation and self-loops drop. Duplicates
    collapse; with ``weight_col`` each row carries its weight as long
    ``w`` and parallel edges keep the cheapest."""
    a, b = F.col(src_col), F.col(dst_col)
    w = [] if weight_col is None else [F.col(weight_col).cast("long").alias("w")]
    und = edges.select(
        F.least(a, b).alias("a"), F.greatest(a, b).alias("b"), *w
    ).filter(F.col("a") != F.col("b"))
    if weight_col is None:
        return und.distinct()
    return und.groupBy("a", "b").agg(F.min("w").alias("w"))


def _both_ways(und: DataFrame, *extra: str) -> DataFrame:
    """Adjacency ``(node, nbr, *extra)``: both directions of every
    ``(a, b)`` row of ``und``, unfolded by one explode in a single pass;
    the ``extra`` columns ride along on both."""
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("node"), F.col("b").alias("nbr"), *extra),
                F.struct(F.col("b").alias("node"), F.col("a").alias("nbr"), *extra),
            )
        ).alias("_e")
    ).select("_e.node", "_e.nbr", *(f"_e.{c}" for c in extra))


#: hi/lo split base for the exact-mode long accumulation (cf. the same
#: constant in operators/ml.py's sufficient-stats split)
_SPLIT = 10**9


def _sc_parallelism(df: DataFrame) -> int:
    """Cluster-wide slot count, used to size checkpoint partitioning."""
    return df.sparkSession.sparkContext.defaultParallelism


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    exact: bool = False,
    partition_invariants: bool = True,
    seeds: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank.

    ``seeds`` switches to PERSONALIZED PageRank (random walk with
    restart): teleport mass (1−d) and the dangling redistribution both
    land on the seed set (uniformly, 1/|S| each) instead of 1/N
    uniformly, and the walk starts there — rank'(v) = (1−d)·p(v) +
    d·(Σ_in + dangling·p(v)) with p = the seed indicator / |S|. The
    per-vertex teleport vector rides the pinned vertices relation as
    one extra double column, so the loop shape (and the zero-exchange
    broadcast regime) is unchanged; the non-seeded arithmetic is kept
    byte-identical to before so existing oracle replays are unaffected.

    ``edges`` is directed (symmetrize upstream for an undirected graph);
    ``vertices`` must contain every node exactly once, including isolated
    ones: vertex ids must be unique. A duplicated id counts twice in N and
    holds rank twice, so the rank mass is no longer 1 (the exact split
    path then raises on its decimal merge cast; the all-decimal path
    returns unnormalized ranks). Returns
    ``(node, rank)`` after ``iterations`` rounds of

        rank'(v) = (1-d)/N + d · (Σ_{u→v} rank(u)/outdeg(u) + dangling/N)

    where ``dangling`` is the rank mass parked on out-degree-0 nodes,
    redistributed uniformly (the standard stochastic-matrix patch).

    Scale shape (round-3 restructure, ~15% median win at sf0.1 and one
    fewer join per round): the out-degree is joined onto the edge list
    ONCE before the loop (it never changes), and the dangling-node set
    is likewise precomputed — so each iteration is one rank⋈edges join,
    one aggregation by destination, and a scalar semi-join sum, instead
    of re-deriving degree/dangling membership every round. When the
    vertex set is small enough to broadcast (``n_vert <=
    _BROADCAST_ROWS``, 4M ≈ tens of MB of (id, double)), the
    per-round rank table is broadcast into the edge join, so the big
    edge list NEVER shuffles — and with ``partition_invariants`` (the
    default) the loop-invariant tables are laid out on the iteration
    keys once, so each round runs with ZERO data exchanges (see the
    inline comment; measured 10.4 → 8.7 s median at sf0.1, interleaved
    A/B). Past that size the join falls back to shuffle hash/sort-merge,
    the correct plan for billion-node graphs. The dangling mass is a
    scalar, carried by a broadcast crossJoin; the iteration count is a
    bounded constant. No per-vertex driver state — the driver loop only
    rebinds DataFrames. Each round pins (``session.pin``) the new rank
    table so the lineage — and with it the replayed-plan depth — stays
    O(1) instead of O(iterations).

    ``exact=True`` switches the two per-round sums to order-independent
    decimal accumulation for bit-exact cross-engine replay (see module
    docstring); leave it off on the scale path. The per-edge term stays
    ``rank / outdeg`` (NOT a precomputed reciprocal) in both modes so
    the DuckDB oracle's division replays bit-for-bit — since round 11
    the division is EVALUATED once per source vertex on the rank side
    (outdeg rides the rank checkpoint) instead of once per edge: same
    operands, same IEEE double per edge, identical sums. In the exact
    broadcast regime the per-round decimal(38,18) aggregation further
    runs as a hi/lo long split (see the inline derivation at the loop)
    whose merged value is bit-identical to the all-decimal sum; the
    split is gated on the provable domain (unweighted, 0 <= damping
    <= 1, broadcast regime) and falls back to all-decimal elsewhere.
    """
    src = F.col(src_col)

    # pin the edge list ONCE: it is referenced every iteration, and without
    # this its entire upstream lineage (often an expensive pair-generation
    # subtree, e.g. the Jaccard self-join feeding the near-dup graph) would
    # re-execute per round — measured 36.7 s → ~8 s at sf0.1 for 5 rounds.
    # Loop-invariant, so columnar persist (the other pin kind, see
    # session.pin): a 10M-node/700M-edge graph fits an 8 GiB local JVM.
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    vertices = pin(vertices)
    # count AFTER the checkpoint: it reads the materialized partitions
    # instead of executing the vertex subtree a second time
    n_vert = vertices.count()  # scalar dimension, like k-means' k
    if n_vert == 0:
        # empty graph: no ranks, not a division by zero
        edges.unpersist(blocking=False)
        return vertices.select(
            F.col(id_col), F.lit(0.0).alias("rank")
        )
    if seeds is not None:
        seed_ck = pin(seeds.select(id_col).distinct())
        n_seed = seed_ck.count()
        if n_seed == 0:
            raise ValueError("personalized pagerank needs >= 1 seed node")
        # per-vertex teleport probability as a loop-invariant column on
        # the (pinned) vertices relation
        vertices = vertices.join(
            seed_ck.select(F.col(id_col), F.lit(1.0 / n_seed).alias("_pers")),
            id_col,
            "left",
        ).select(F.col(id_col), F.coalesce(F.col("_pers"), F.lit(0.0)).alias("_pers"))
    if weight_col is None:
        out_deg = edges.groupBy(src.alias(id_col)).agg(
            F.count(F.lit(1)).alias("_outdeg")
        )
    else:
        # weighted: a node "dangles" when it has no out-edges; zero /
        # negative weights are the caller's contract to avoid. The
        # per-source weight total sums in exact decimal (order-
        # independent) so the hoisted coefficients — and therefore the
        # whole run — replay bit-identically in any engine for weights
        # with <= 9 decimal places (integers included).
        out_deg = edges.groupBy(src.alias(id_col)).agg(
            F.sum(F.col(weight_col).cast("decimal(27,9)"))
            .cast("double")
            .alias("_wsum")
        )
    # pinned: out_deg feeds BOTH the wedges build and the dangling-node
    # anti-join, and each reference re-scans (and re-aggregates) the full
    # pinned edge list — a |V|-sized checkpoint replaces a second |E|
    # pass (measured as one of the two edge-scan jobs in the iters=0
    # setup split; the values are byte-identical, only computed once).
    out_deg = pin(out_deg)
    base = F.lit((1.0 - damping) / n_vert)
    small = n_vert <= _BROADCAST_ROWS

    # loop-invariant hoists: degree lives ON the VERTEX row (round-11 —
    # see below), and the dangling membership set is fixed by the
    # topology. In the weighted variant the whole per-edge coefficient
    # w/W is loop-invariant, so it is computed ONCE here (one double
    # division per edge total, not per round) and each round is a plain
    # rank×coef multiply.
    if weight_col is None:
        # Round-11 (guide §2.3, shuffle fewer bytes / narrower rows): the
        # unweighted per-edge term rank/outdeg is a PER-SOURCE value, so
        # outdeg moves from the |E|-row edge layout to the |V|-row rank
        # table (carried through each round's checkpoint) and the
        # division happens once per vertex on the small side instead of
        # once per edge — same operands, same IEEE double per edge, so
        # the aggregate input is the identical multiset (oracle
        # hash-verified). The old edges⋈out_deg build also filtered
        # nothing (every edge's src has outdeg >= 1 by construction), so
        # the wedges layout drops both the join and the _outdeg column.
        wedges = edges.select(src.alias("_src"), F.col(dst_col).alias("_dst"))
        vertices = vertices.join(
            F.broadcast(out_deg) if small else out_deg, id_col, "left"
        )
    else:
        wedges = edges.join(out_deg, src == out_deg[id_col]).select(
            src.alias("_src"),
            F.col(dst_col).alias("_dst"),
            (F.col(weight_col).cast("double") / F.col("_wsum")).alias("_coef"),
        )
    if small and partition_invariants:
        # broadcast regime: ranks never shuffles (it's broadcast into the
        # edge join), so the ONLY per-round exchange left is the
        # groupBy(_dst) aggregation and the contribs⋈vertices join-back.
        # Kill both: lay wedges out hash-partitioned by _dst and vertices
        # by id ONCE, and pin them with cache(): InMemoryRelation keeps
        # the outputPartitioning a checkpoint forgets (session.pin;
        # plan-asserted in tests/test_graph.py), so Catalyst elides the
        # per-round Exchange under the aggregate (alias-aware: _dst → id_col) and
        # under both sides of the join-back. Net: ZERO data shuffles per
        # iteration; the loop moves only the broadcast of the small rank
        # table. Both caches are released before return.
        wedges = wedges.repartition(F.col("_dst")).cache()
        vertices = vertices.repartition(F.col(id_col)).cache()
    else:
        # shuffle regime (billion-node graphs, or partition_invariants
        # off): the rank⋈edges join and the groupBy(dst) each need their
        # own key layout, so one shuffle per round is inherent (the
        # standard Pregel cost); loop-invariant, so columnar persist.
        wedges = wedges.persist(StorageLevel.MEMORY_AND_DISK)
        if weight_col is None:
            # the vertices⋈out_deg augmentation above must not re-run
            # per reference in this regime (the small branch folds it
            # into the vertices cache)
            vertices = vertices.persist(StorageLevel.MEMORY_AND_DISK)
    # Dangling-node fast path (round-11, guide §2.4): count the dangling
    # set ONCE before the loop. Symmetrized and bipartite graphs — every
    # catalog caller — have NO dangling vertices, yet the loop was paying
    # a per-iteration semi-join + aggregate + 1-row broadcast + crossJoin
    # just to add an exactly-0.0 term: sum over an empty set is 0.0 via
    # _sum0's coalesce, 0.0/N = 0.0 (and 0.0·p(v) = 0.0 for seeds), and
    # IEEE x + 0.0 = x for the positive finite ranks here — so skipping
    # the machinery is bit-identical in both arithmetic modes (oracle
    # hash-verified). Graphs that DO dangle keep the exact same
    # per-iteration aggregate as before; only the |V|-sized checkpoint is
    # gated on actually needing it.
    dang_lazy = (
        # unweighted: dangling membership already rides the vertex row
        # (null _outdeg from the left join above) — no anti-join needed
        vertices.where(F.col("_outdeg").isNull())
        if weight_col is None
        else vertices.join(out_deg, id_col, "left_anti")
    )
    n_dang = dang_lazy.count()
    dang_nodes = (
        pin(dang_lazy)
        if n_dang > 0
        else None
    )

    init_rank = (
        F.lit(1.0 / n_vert) if seeds is None else F.col("_pers")
    )
    # unweighted: carry the loop-invariant _outdeg through every round's
    # rank checkpoint (8 bytes/vertex) so the per-source contribution can
    # be computed on the rank side before the edge join
    carry = ["_outdeg"] if weight_col is None else []
    ranks = pin(vertices.select(F.col(id_col), init_rank.alias("rank"), *carry))

    # Exact-mode long-split accumulation (round-11, guide §2.3 — same
    # derivation as operators/ml.py's sufficient-stats split): in the
    # zero-exchange broadcast regime the per-round decimal(38,18) sum is
    # the only Int128 work left on the |E|-scale path. The unweighted
    # per-source addend c = rank/outdeg is quantized ONCE per vertex:
    # d = cast(c as decimal(20,18)) — identical value to the oracle's
    # decimal(38,18) cast for |c| < 100 (same scale, same HALF_UP) —
    # then t = d·10^9 (decimal(31,18), exact), hi = floor(t),
    # lo = (t − hi)·10^9 (both exact: t has 9 fractional digits), so
    # hi·10^9 + lo = d·10^18 exactly for either sign (frac ∈ [0,1)).
    # Per (dst, scan-partition) the hi/lo streams sum as plain LONGs —
    # 0 ≤ damping ≤ 1 keeps total rank mass at 1 (±|E|·5e-19 decimal
    # rounding) over unique vertex ids, so every addend obeys
    # c ∈ [0, 1+ε] and hi ≤ 10^9. Nothing here checks that bound:
    # ANSI (pinned in session.get_spark) makes an overflow on this path
    # raise instead of wrap — a long partial past 2^63, an addend
    # outside decimal(20,18), or a merged sum outside decimal(38,18)
    # (the duplicated-id case in tests/test_graph.py). Only the
    # per-task partials merge in decimal(38,0), reconstructing
    # Σd = (10^9·Σhi + Σlo)/10^18 by exact integer algebra (the final
    # /10^18 division is exact: an integer over 10^18 has exactly 18
    # fractional digits, representable at scale 18). Values are
    # bit-identical to the all-decimal sum (oracle hash-verified); both
    # grouping levels ride the existing hash(_dst) layout, so the round
    # stays ZERO-exchange. Outside the gated domain (weighted, shuffle
    # regime, or damping outside [0,1]) the all-decimal path is kept.
    use_split = (
        exact
        and weight_col is None
        and small
        and partition_invariants
        and 0.0 <= damping <= 1.0
    )
    for _ in range(iterations):
        if weight_col is None:
            c = F.col("rank") / F.col("_outdeg")
            if use_split:
                d20 = c.cast("decimal(20,18)")
                t = d20 * F.lit(_SPLIT)
                hi = F.floor(t)
                side = ranks.select(
                    F.col(id_col),
                    hi.cast("long").alias("_hi"),
                    ((t - hi).cast("decimal(10,9)") * F.lit(_SPLIT))
                    .cast("long")
                    .alias("_lo"),
                )
            else:
                side = ranks.select(F.col(id_col), c.alias("_c"))
        else:
            side = ranks
        rank_side = F.broadcast(side) if small else side
        joined = wedges.join(rank_side, F.col("_src") == F.col(id_col))
        if use_split:
            contribs = (
                joined.select(
                    F.col("_dst").alias(id_col),
                    F.spark_partition_id().alias("_pid"),
                    "_hi",
                    "_lo",
                )
                .groupBy(id_col, "_pid")
                .agg(F.sum("_hi").alias("_phi"), F.sum("_lo").alias("_plo"))
                .groupBy(id_col)
                .agg(
                    (
                        (
                            F.sum(F.col("_phi").cast("decimal(38,0)"))
                            * F.lit(_SPLIT)
                            + F.sum(F.col("_plo").cast("decimal(38,0)"))
                        )
                        .cast("decimal(38,0)")
                        .cast("decimal(38,18)")
                        / F.lit(10**18)
                    )
                    .cast("double")
                    .alias("_in")
                )
            )
        else:
            contribs = (
                joined.select(
                    F.col("_dst").alias(id_col),
                    (
                        F.col("_c")
                        if weight_col is None
                        else F.col("rank") * F.col("_coef")
                    ).alias("_c"),
                )
                .groupBy(id_col)
                .agg(
                    (F.sum(_dec(F.col("_c"))).cast("double") if exact else F.sum("_c"))
                    .alias("_in")
                )
            )
        # the dangling term only exists when dangling vertices do (see
        # the fast-path note above); when it does, _dangling rides a
        # 1-row broadcast exactly as before
        dang_term = F.col("_dangling") if n_dang > 0 else F.lit(0.0)
        if seeds is None:
            new_rank = base + F.lit(damping) * (
                F.coalesce(F.col("_in"), F.lit(0.0))
                + dang_term / n_vert
            )
            vert_cols = [F.col(id_col)]
        else:
            new_rank = F.lit(1.0 - damping) * F.col("_pers") + F.lit(
                damping
            ) * (
                F.coalesce(F.col("_in"), F.lit(0.0))
                + dang_term * F.col("_pers")
            )
            vert_cols = [F.col(id_col), F.col("_pers")]
        nxt = vertices.select(*vert_cols, *carry).join(contribs, id_col, "left")
        if n_dang > 0:
            dangling = ranks.join(
                F.broadcast(dang_nodes) if small else dang_nodes,
                id_col,
                "left_semi",
            ).agg(_sum0(F.col("rank"), exact).alias("_dangling"))
            nxt = nxt.crossJoin(F.broadcast(dangling))
        ranks = pin(nxt.select(F.col(id_col), new_rank.alias("rank"), *carry))
    if carry:
        # drop the carried loop-invariant from the output contract
        # (lazy projection over the materialized checkpoint)
        ranks = ranks.select(F.col(id_col), "rank")
    # the returned ranks are checkpoint-materialized, so every pinned
    # loop-invariant can be dropped without invalidating the result —
    # a long-lived session running many catalog queries would otherwise
    # accumulate spilled blocks from each graph call
    edges.unpersist(blocking=False)
    wedges.unpersist(blocking=False)
    if (small and partition_invariants) or weight_col is None:
        vertices.unpersist(blocking=False)
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    strategy: str = "intersect",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient.

    ``edges`` is an undirected simple graph given as one row per edge in
    either orientation (deduped internally). Both strategies start from
    the degree-ordered orientation — every edge directed toward its
    higher-(degree, id) endpoint, which bounds a node's OUT-degree by
    O(sqrt(|E|)) even on power-law graphs — and find each triangle
    exactly once, at its base edge (the two lower-ranked vertices):

    - ``"intersect"`` (default): edge-iterator with adjacency arrays —
      collect each node's out-neighbors into an array (bounded by the
      sqrt(|E|) out-degree), join the two arrays onto every edge, and
      close triangles with one ``array_intersect`` per edge. Shuffles
      only |E| edge rows + |V| adjacency rows, never the wedge set; the
      per-triangle explode feeds a map-side-combinable count.
    - ``"wedge"``: the compact-forward wedge join — materialize out-out
      wedge pairs and probe the edge set. Same counts; shuffles the
      wedge set, which is Σ outdeg² / 2 ≫ |E| on dense graphs (measured
      1.1×–1.8× slower at sf0.1, worst under machine load because it
      shuffles far more bytes — kept as the cross-check and for graphs
      too hub-heavy for comfortable adjacency arrays).

    Counts are identical under any strategy or ordering, so the DuckDB
    oracle replays the naive id-order 3-way join and hash-matches.

    Output: (node, degree, n_triangles, cc_q6) for every node with
    degree >= 2, where cc = 2T / (d(d-1)) quantized to 6 digits.
    """
    und = (
        _undirected(edges, src_col, dst_col)
        # pinned: the edge list (often an expensive pair-generation
        # subtree) is referenced by the degree count, the ranked
        # direction, and both sides of the wedge join — without this
        # the upstream re-executes per reference (cf. pagerank).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        und.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # direct each edge toward the higher (degree, id) endpoint
    ranked = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        # hash-distribute on u BEFORE pinning: the pinned relation keeps
        # this partitioning, so (a) the downstream adjacency build
        # (groupBy u) and the first adjacency join (on u) reuse it
        # without an exchange, and (b) the wide per-edge intersect stage
        # parallelizes — without it AQE can hand the pin a single
        # coalesced partition and the whole credit stage runs one-task
        # (9.5 s of a 17 s wall at sf0.1, measured). Columnar persist,
        # which keeps that partitioning (see session.pin).
        # 4× over-partitioning bounds PER-TASK memory in the intersect
        # stage: each task holds both sides' adjacency arrays for its
        # key slice, and at sf10 a slot-count layout OOMs an 8 GiB JVM
        # from those buffers alone; quartering the slice trades a few
        # hundred extra sub-second tasks for a 4× smaller working set —
        # the standard partitions-scale-with-data rule, stated here
        # once for the whole wedge pipeline.
        .repartition(4 * int(_sc_parallelism(edges)), "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
        # referenced 3x: wedge left, wedge right, closer
    )
    if strategy == "intersect":
        adj = ranked.groupBy("u").agg(F.collect_list("v").alias("_nbrs"))
        ej = (
            ranked.join(adj.withColumnRenamed("_nbrs", "_nu"), "u")
            .join(
                adj.withColumnRenamed("u", "v").withColumnRenamed("_nbrs", "_nv"),
                "v",
            )
            .select(
                "u", "v", F.array_intersect("_nu", "_nv").alias("_ws")
            )
        )
        # each triangle closes at exactly one base edge: +1 to u, v, and
        # every common out-neighbor w. All three credit streams unfold
        # from ONE array per edge (u and v each earn |ws|, each w earns
        # 1), so the adjacency-join output is consumed exactly once in a
        # narrow stage — the previous 3-way unionAll re-read it three
        # times through a checkpoint (one leg single-task; ~8 of 26
        # task-seconds at sf0.1, measured with tools/profile_query.py).
        per_node = (
            ej.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(
                                F.col("u").alias("node"),
                                F.size("_ws").alias("_c"),
                            ),
                            F.struct(
                                F.col("v").alias("node"),
                                F.size("_ws").alias("_c"),
                            ),
                        ),
                        F.expr(
                            "transform(_ws, w -> struct(w as node, 1 as _c))"
                        ),
                    )
                ).alias("_p")
            )
            .select("_p.node", "_p._c")
            .groupBy("node")
            .agg(F.sum("_c").alias("n_triangles"))
            .filter(F.col("n_triangles") > 0)
        )
    elif strategy == "wedge":
        d1 = ranked.select(F.col("u"), F.col("v").alias("x"))
        d2 = ranked.select(F.col("u"), F.col("v").alias("y"))
        # each unordered wedge {x, y} once (id-order); the closing edge is
        # a probe of the undirected set — id-ordered like the wedge, so no
        # double-orientation union is needed
        wedges = d1.join(d2, "u").filter(F.col("x") < F.col("y"))
        tris = wedges.join(
            und.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
        )
        per_node = (
            tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    two_t = F.coalesce(F.col("n_triangles"), F.lit(0)) * 2
    dd = F.col("degree") * (F.col("degree") - 1)
    # materialize the small per-node result so the two big pins below
    # can be released before returning — without this, every triangle
    # call in a long session leaves its edge/adjacency spill blocks
    # behind (cf. pagerank's release)
    out = pin(
        deg.filter(F.col("degree") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.floor(
                two_t.cast("double") / dd.cast("double") * F.lit(1e6)
            ).cast("long").alias("cc_q6"),
        )
    )
    und.unpersist(blocking=False)
    ranked.unpersist(blocking=False)
    return out


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round synchronous label propagation (community detection).

    Labels start as node ids. Each round, every node adopts the most
    frequent label among its neighbors plus ITSELF (the self-vote damps
    the bipartite oscillation synchronous LPA is famous for); ties break
    to the smallest label. Both rules are deterministic, so — like
    ``k_core`` — the semantics are defined by the ROUND COUNT and a SQL
    oracle can replay every round as a chained CTE.

    Each round is one labels⋈adjacency join plus ONE aggregation:
    ``mode(label, deterministic=true)`` — Spark's deterministic mode
    breaks frequency ties to the smallest value, which IS the LPA tie
    rule, so the per-node winner needs no (node, label) pre-count and
    no struct-argmax second shuffle. When the vertex set is small
    enough (``<= _BROADCAST_ROWS``), the per-round label table
    broadcasts into the join and the adjacency is laid out
    hash-partitioned by node ONCE (cache, which keeps its
    outputPartitioning, see ``session.pin``): hash(node)
    satisfies the groupBy(node) clustering, so each round runs with
    ZERO data exchanges — the loop moves only the broadcast of the
    small label table. Past the threshold the join falls back to
    shuffle, the right plan for billion-node graphs. Per-round state is
    the (node, label) table, pinned (``session.pin``) for O(1)
    lineage.

    Output: (node, community) — the label each node holds after
    ``rounds`` rounds.
    """
    und = pin(_undirected(edges, src_col, dst_col))
    verts = pin(
        und.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("node"))
        .distinct()
    )
    n_vert = verts.count()
    small = n_vert <= _BROADCAST_ROWS
    # adjacency with the self-vote row, laid out by node once: the loop
    # joins it on nbr each round with a broadcast label table, so the big
    # side never moves again
    adj = _both_ways(und).unionAll(
        verts.select("node", F.col("node").alias("nbr"))
    )
    if small:
        adj = adj.repartition(F.col("node")).cache()
    else:
        adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    labels = verts.select("node", F.col("node").alias("community"))
    for _ in range(rounds):
        lbl = labels.select(
            F.col("node").alias("nbr"), F.col("community").alias("_l")
        )
        votes = adj.join(F.broadcast(lbl) if small else lbl, "nbr")
        labels = pin(
            votes.groupBy("node")
            .agg(F.mode(F.col("_l"), True).alias("community"))
        )
    # labels are checkpoint-materialized each round, so the adjacency
    # pin can be released in BOTH regimes (not just the small branch)
    adj.unpersist(blocking=False)
    return labels


def shortest_paths(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Unweighted single-source shortest paths (BFS), ``rounds`` hops.

    Frontier-propagation form: each round joins ONLY the nodes settled
    in the previous round against the adjacency — per-round shuffle is
    O(frontier × degree), not O(|V|) — and a left-anti join keeps first
    (= shortest, for unit weights) settlements. Round count bounds the
    hop radius, so — like ``k_core`` — a SQL oracle replays the same
    rounds as chained CTEs: full min-relaxation over all settled nodes
    collapses to BFS when weights are 1, and a converged frontier goes
    empty, making extra rounds no-ops (early exit == full replay).

    Output: (node, dist) for every node within ``rounds`` hops of
    ``source`` (the source itself at dist 0).
    """
    # loop-invariant: columnar persist (see session.pin)
    adj = _both_ways(_undirected(edges, src_col, dst_col)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    spark = edges.sparkSession
    seed = spark.createDataFrame([(source, 0)], "node long, dist int")
    # settled only ACCUMULATES (each round's frontier is disjoint from
    # every earlier one by the anti-join), so it never needs its own
    # checkpoint: a lazy union of the per-round PINNED frontiers is the
    # same relation, and dropping the per-round settled checkpoint
    # removes one action + |settled| materialization per round
    # (round-11, guide §2.4/§5 — the union members are all pinned, so
    # nothing recomputes).
    frames = [seed]
    frontier = seed
    n_frontier = 1

    def _settled() -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    # broadcast the frontier while it's dimension-sized (the common BFS
    # regime); a web-scale frontier that outgrows this falls back to a
    # shuffle join — same result, the plan billion-node graphs need
    for r in range(1, rounds + 1):
        if n_frontier == 0:
            break
        fr = frontier.select(F.col("node").alias("nbr"))
        if n_frontier <= _BROADCAST_ROWS:
            fr = F.broadcast(fr)
        reached = pin(
            adj.join(fr, "nbr")
            .select("node")
            .distinct()
            .join(_settled(), "node", "left_anti")
            .select("node", F.lit(r).alias("dist"))
        )
        frames.append(reached)
        frontier = reached
        n_frontier = reached.count()
    # every frame is checkpoint-materialized: release the adjacency pin
    adj.unpersist(blocking=False)
    return _settled()


def weighted_shortest_paths(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Bellman-Ford single-source shortest paths with non-negative
    integer edge weights, ``rounds`` relaxation rounds.

    Unlike unit-weight BFS (``shortest_paths``), a settled node's
    distance can still improve, so every round relaxes ALL current
    distances through the adjacency: dist' = min(dist, min over
    incoming (dist(u) + w)) — one join + one min-aggregation, the
    textbook min-plus iteration. Distances after round r are exact for
    every path of ≤ r edges, and a converged table passes through
    unchanged — so (like k-core) a chained-CTE oracle replaying all
    ``rounds`` rounds agrees with early exit at the fixpoint. Integer
    weights keep every distance exact (no float min drift).

    The distance table broadcasts into the relaxation join while it is
    dimension-sized; the pinned adjacency never reshuffles. Output:
    (node, dist) for nodes reachable within ``rounds`` edges.
    """
    # loop-invariant: columnar persist (see session.pin)
    adj = _both_ways(_undirected(edges, src_col, dst_col, weight_col), "w").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node long, dist long")
    # distances only decrease and the reached set only grows, so the
    # (count, total-distance) pair is a monotone fixpoint witness
    fingerprint = (1, 0)
    for _ in range(rounds):
        d = dist.select(F.col("node").alias("nbr"), F.col("dist").alias("_d"))
        if fingerprint[0] <= _BROADCAST_ROWS:
            d = F.broadcast(d)
        relaxed = adj.join(d, "nbr").select(
            "node", (F.col("_d") + F.col("w")).alias("dist")
        )
        dist = pin(
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        row = dist.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        if (row["n"], row["s"]) == fingerprint:
            break  # fixpoint: further rounds are no-ops
        fingerprint = (row["n"], row["s"])
    # dist is checkpoint-materialized: release the adjacency pin
    adj.unpersist(blocking=False)
    return dist


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    exact: bool = False,
) -> DataFrame:
    """HITS (Kleinberg 1999): authority and hub scores over a DIRECTED
    graph by alternating power iteration with L1 normalization.

    Per round: ``a(v) = Σ_{u→v} h(u)`` then L1-normalize, ``h(u) =
    Σ_{u→v} a(v)`` then L1-normalize. L1 (not the textbook L2) keeps
    the normalizer a plain non-negative sum — replayable with the same
    order-independent decimal accumulation as ``pagerank``'s
    ``exact=True`` mode, with no sqrt in the loop; the fixpoint
    direction is the same eigenvector, only the scale convention
    differs. Scores start at 1 for every node; isolated nodes
    (no in-edges / no out-edges) hold authority / hub 0.

    Scale shape mirrors ``pagerank``: the edge list pins ONCE
    (compressed columnar), each half-round is one score⋈edges join +
    one aggregation, the score table broadcasts while the vertex set
    is dimension-sized (past ``_BROADCAST_ROWS`` the join falls
    back to shuffle — the billion-node plan), and each round's score
    tables are pinned (``session.pin``) for O(1) lineage. In the
    broadcast regime the L1 normalizer rides a whole-table window over
    the half-round's |V| rows, so fill + norm + divide execute in ONE
    pass per half-round (round-11, guide §2.4; decimal window sums are
    order-independent, so exact-mode values are unchanged — oracle
    hash-verified); past ``_BROADCAST_ROWS`` the normalizer stays a
    1-row broadcast crossJoin over the pinned raw table, which never
    funnels |V| rows through one window task. The explicitly pinned
    edge list is released before returning; the per-round score
    checkpoints are reclaimed by the context cleaner once unreferenced
    (pin blocks are not CacheManager-tracked, so there is
    no eager release point for them).

    Output: (node, authority, hub) for every node in the graph.
    """
    from pyspark.sql import Window

    _whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    edges = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    verts = pin(
        edges.select(F.col("_src").alias("node"))
        .union(edges.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_vert = verts.count()
    small = n_vert <= _BROADCAST_ROWS

    if small:
        # zero-exchange loop layout (round-11, cf. pagerank's wedges):
        # the authority pass aggregates by _dst and the hub pass by
        # _src, so keep TWO cached copies of the 2-column edge list,
        # each hash-laid-out on its pass's grouping key, and verts
        # laid out by node. The score table is broadcast into the edge
        # join (partitioning preserved), the groupBy key matches the
        # cache layout, and the vertex fill-join sees both sides
        # clustered on node — so a half-round's only exchange is the
        # single-partition normalizer window. Costs one extra columnar
        # copy of the edges; past _BROADCAST_ROWS the loop keeps the
        # single pin and per-round shuffles (the billion-node plan).
        e_bydst = edges.repartition(F.col("_dst")).cache()
        e_bysrc = edges.repartition(F.col("_src")).cache()
        verts = verts.repartition(F.col("node")).cache()
    else:
        e_bydst = e_bysrc = edges

    def _bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        if small:
            # one-pass normalize (round-11): the L1 norm is a sum over
            # the SAME |V| rows being projected, so computing it as a
            # whole-table window lets fill + norm + divide run — and
            # checkpoint — in a single action per half-round. The old
            # shape pinned raw, then re-read it per consumer through a
            # crossJoin(broadcast(norm)), paying a norm-broadcast job
            # for every downstream reference. The window funnels |V|
            # rows through one task, which is exactly the broadcast
            # regime's size contract (dimension-sized vertex set); the
            # decimal sum is order-independent so exact-mode values are
            # unchanged. Checkpointing the NORMALIZED table (not raw)
            # keeps lineage O(1) and makes every consumer a plain scan.
            norm = _sum0(F.col(col), exact, _whole)
            return pin(
                raw.select(
                    "node",
                    F.when(norm > 0, F.col(col) / norm)
                    .otherwise(F.lit(0.0))
                    .alias(col),
                )
            )
        # big regime: pin raw FIRST — the norm aggregate and the
        # normalized projection both read it, and raw's subtree is the
        # half-round's real work (edges join + aggregation); unpinned it
        # executed twice per half-round. The normalized output stays
        # lazy: one broadcast crossJoin over the pinned raw, never |V|
        # rows through a single window task.
        raw = pin(raw)
        norm = raw.agg(_sum0(F.col(col), exact).alias("_norm"))
        return raw.crossJoin(F.broadcast(norm)).select(
            "node",
            F.when(F.col("_norm") > 0, F.col(col) / F.col("_norm"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    hub = pin(verts.select("node", F.lit(1.0).alias("hub")))
    auth = verts.select("node", F.lit(1.0).alias("authority"))
    for _ in range(iterations):
        a_raw = (
            e_bydst.join(
                _bcast(hub.select(F.col("node").alias("_src"), "hub")),
                "_src",
            )
            .groupBy(F.col("_dst").alias("node"))
            .agg(_sum0(F.col("hub"), exact).alias("authority"))
        )
        auth = _normalize(
            verts.join(a_raw, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        h_raw = (
            e_bysrc.join(
                _bcast(
                    auth.select(F.col("node").alias("_dst"), "authority")
                ),
                "_dst",
            )
            .groupBy(F.col("_src").alias("node"))
            .agg(_sum0(F.col("authority"), exact).alias("hub"))
        )
        hub = _normalize(
            verts.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
    out = pin(
        verts.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )
    edges.unpersist(blocking=False)
    if small:
        e_bydst.unpersist(blocking=False)
        e_bysrc.unpersist(blocking=False)
        verts.unpersist(blocking=False)
    return out


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 7,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: nodes surviving `rounds` rounds of
    "remove every node with degree < k" over an undirected simple graph.

    Semantics are defined by the ROUND COUNT, not by convergence — each
    round drops sub-k nodes and their edges, and a converged graph passes
    through unchanged, so running extra rounds is a no-op. That makes the
    operator deterministic AND lets the Spark side early-exit at the
    fixpoint while a SQL oracle replays all `rounds` rounds verbatim:
    identical output either way. (True core numbers = run to fixpoint;
    peel depth on real graphs is small, but at 100 TB you bound it and
    monitor the converged flag rather than loop unbounded.)

    Each round is one degree aggregation (map-side combinable) plus two
    anti-joins keyed by node — shuffle size shrinks monotonically as the
    graph peels. Each round's survivor set is pinned (``session.pin``):
    the survivor state EVOLVES, so the pin's plan truncation is
    load-bearing (each round references the prior set three times —
    without truncation the logical plan grows 3^rounds and analysis time
    dominates: measured 3.7 s → ~50 s at sf0.01 with a persist-based
    pin).

    Output: (node, core_degree) — surviving nodes with their degree in
    the surviving subgraph (>= k iff the peel reached fixpoint).
    """
    cur = pin(_undirected(edges, src_col, dst_col))
    n_edges = cur.count()
    for _ in range(rounds):
        if n_edges == 0:
            break
        # explode, not unionAll-of-two-selects: one pass over the pinned
        # survivor set per round instead of two (the 2x fanout happens
        # inside the scan stage and combines map-side)
        deg = (
            cur.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        bad = deg.filter(F.col("deg") < k).select("node")
        # the two renamed broadcasts of bad LOOK like a double
        # aggregation in the static plan, but AQE dedupes the
        # canonically-equal broadcast stages at runtime (verified via
        # the SQL metrics API: one Generate/agg pair executes per
        # round) — left as is, round-11 audit
        cur = pin(
            cur.join(bad.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b")
        )
        next_edges = cur.count()
        if next_edges == n_edges:  # fixpoint: further rounds are no-ops
            break
        n_edges = next_edges
    return (
        cur.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
