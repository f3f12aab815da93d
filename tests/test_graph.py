"""PageRank semantics on crafted graphs (the DuckDB oracle covers
cross-engine parity on the near-dup graph; these pin the math)."""

from __future__ import annotations

import struct

import pytest

from pyspark.errors import ArithmeticException
from pyspark.sql import Row
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def _verts(spark, ids):
    return spark.createDataFrame([Row(node=i) for i in ids])


def test_pagerank_single_step_hand_computed(spark):
    # 1 → 2, node 2 dangling. After one round:
    # dangling mass = 0.5; r1 = 0.075 + 0.85·(0 + 0.25)   = 0.2875
    #                 r2 = 0.075 + 0.85·(0.5 + 0.25)      = 0.7125
    out = {
        r["node"]: r["rank"]
        for r in pagerank(
            _edges(spark, [(1, 2)]), _verts(spark, [1, 2]), iterations=1
        ).collect()
    }
    assert out[1] == pytest.approx(0.2875)
    assert out[2] == pytest.approx(0.7125)


def test_pagerank_mass_conserved_and_star_ranks_center_highest(spark):
    # undirected star: center 0 ↔ leaves 1..4
    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    out = pagerank(
        _edges(spark, pairs), _verts(spark, range(5)), iterations=5
    ).collect()
    ranks = {r["node"]: r["rank"] for r in out}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    assert len({round(ranks[i], 12) for i in range(1, 5)}) == 1  # leaves tie


def test_pagerank_zero_iterations_is_uniform(spark):
    out = pagerank(
        _edges(spark, [(1, 2)]), _verts(spark, [1, 2, 3]), iterations=0
    ).collect()
    assert all(r["rank"] == pytest.approx(1 / 3) for r in out)


def test_pagerank_exact_and_fast_modes_agree(spark):
    """The round-3 split: double scale path vs decimal oracle mode must
    compute the same ranks up to float-summation noise (~ulps)."""
    # ring + chords + a dangling tail: exercises contribs AND dangling
    pairs = [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6), (7, 8)]
    e, v = _edges(spark, pairs), _verts(spark, range(10))
    fast = {r["node"]: r["rank"]
            for r in pagerank(e, v, iterations=5).collect()}
    exact = {r["node"]: r["rank"]
             for r in pagerank(e, v, iterations=5, exact=True).collect()}
    assert fast.keys() == exact.keys()
    for n in fast:
        assert fast[n] == pytest.approx(exact[n], abs=1e-9)
    assert sum(fast.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_catalog_fast_matches_exact_on_testdata(spark):
    """pagerank_neardup_fast (double) vs pagerank_neardup (decimal) on
    the real near-dup graph at sf0.001 — same ranks to 1e-9."""
    from commerce_sessionization_spark.plans.queries import (
        q_pagerank_neardup,
        q_pagerank_neardup_fast,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["doc_id"]: r["rank_q12"] / 1e12
             for r in q_pagerank_neardup(spark, sf).collect()}
    fast = {r["doc_id"]: r["rank_r6"]
            for r in q_pagerank_neardup_fast(spark, sf).collect()}
    assert fast.keys() == exact.keys()
    for d in fast:
        assert fast[d] == pytest.approx(exact[d], abs=2e-6)


def test_pagerank_isolated_vertices_share_dangling_mass(spark):
    # no edges at all: every node dangles; uniform stays the fixed point
    out = pagerank(
        _edges(spark, [(1, 1)]).limit(0), _verts(spark, [1, 2, 3, 4]),
        iterations=3,
    ).collect()
    for r in out:
        assert r["rank"] == pytest.approx(0.25)


def test_triangle_counts_k4(spark):
    """K4: every node has degree 3 and sits in C(3,2)=3 triangles, cc=1."""
    from commerce_sessionization_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    rows = {r.node: r for r in triangle_counts(edges).collect()}
    assert set(rows) == {0, 1, 2, 3}
    for r in rows.values():
        assert (r.degree, r.n_triangles, r.cc_q6) == (3, 3, 1_000_000)


def test_triangle_counts_path_has_none(spark):
    from commerce_sessionization_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    rows = {r.node: r for r in triangle_counts(edges).collect()}
    # endpoints have degree 1 -> excluded; middles: degree 2, no triangles
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert (r.degree, r.n_triangles, r.cc_q6) == (2, 0, 0)


def test_triangle_counts_mixed_orientation_and_dupes(spark):
    """Input edges in both orientations + duplicates count once."""
    from commerce_sessionization_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 3)],
        "src long, dst long",
    )
    rows = {r.node: r for r in triangle_counts(edges).collect()}
    assert rows[0].n_triangles == 1 and rows[1].n_triangles == 1
    assert rows[2].n_triangles == 1 and rows[2].degree == 3
    # cc for node 2: 2*1/(3*2) = 0.333333
    assert rows[2].cc_q6 == 333_333


def test_cached_layout_elides_iteration_exchange(spark):
    """The load-bearing assumption behind ``partition_invariants``: an
    InMemoryRelation keeps its hash layout, so the per-round
    broadcast-join → groupBy(dst) aggregation runs with NO Exchange,
    while a localCheckpoint's LogicalRDD forgets it and the Exchange
    comes back. If a Spark upgrade changes either behavior, pagerank's
    zero-shuffle iteration claim is void and this fails."""
    import re

    def agg_plan(wedges):
        ranks = spark.range(100).select(
            F.col("id").alias("node"), F.lit(0.01).alias("rank")
        )
        df = (
            wedges.join(F.broadcast(ranks), F.col("_src") == F.col("node"))
            .select(
                F.col("_dst").alias("node2"),
                (F.col("rank") / F.col("_outdeg")).alias("_c"),
            )
            .groupBy("node2")
            .agg(F.sum("_c").alias("_in"))
        )
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    base = spark.range(1000).select(
        F.col("id").alias("_src"),
        (F.col("id") % 97).alias("_dst"),
        F.lit(2).alias("_outdeg"),
    )

    cached = base.repartition(8, F.col("_dst")).cache()
    try:
        cached.count()
        plan = agg_plan(cached)
        # the only exchanges allowed: inside the cached relation's
        # materialization and the rank BroadcastExchange
        agg_side = plan.split("BroadcastExchange")[0]
        post_cache = agg_side.split("InMemoryTableScan")[0]
        assert len(re.findall(r"\(\d+\) Exchange", post_cache)) == 0, plan
    finally:
        cached.unpersist()

    ckpt = base.repartition(8, F.col("_dst")).localCheckpoint()
    plan = agg_plan(ckpt)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) >= 1, plan


# --------------------------------------------------------------------------
# k-core peeling
# --------------------------------------------------------------------------

def test_kcore_path_cascade_peels_everything(spark):
    """A path graph has no 2-core: endpoints peel one per round, and the
    cascade (5 rounds for a 9-node path under two-ended peeling) needs
    the multi-round loop — one round would only trim the two endpoints."""
    from commerce_sessionization_spark.operators.graph import k_core

    path = _edges(spark, [(i, i + 1) for i in range(8)])
    assert k_core(path, k=2, rounds=8).count() == 0
    # with too few rounds the cascade is cut short mid-peel
    partial = {r.node for r in k_core(path, k=2, rounds=2).collect()}
    assert partial == {2, 3, 4, 5, 6}


def test_kcore_triangle_survives_pendant_peels(spark):
    from commerce_sessionization_spark.operators.graph import k_core

    # triangle {1,2,3} + pendant chain 3-4-5: chain peels away, core stays
    g = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {r.node: r.core_degree for r in k_core(g, k=2, rounds=8).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_early_exit_matches_extra_rounds(spark):
    from commerce_sessionization_spark.operators.graph import k_core

    g = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (2, 4)])
    a = sorted((r.node, r.core_degree) for r in k_core(g, k=2, rounds=4).collect())
    b = sorted((r.node, r.core_degree) for r in k_core(g, k=2, rounds=12).collect())
    assert a == b


def test_kcore_duplicate_and_reversed_edges_collapse(spark):
    from commerce_sessionization_spark.operators.graph import k_core

    g = _edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)])
    got = {r.node: r.core_degree for r in k_core(g, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_triangle_strategies_agree(spark):
    """intersect (adjacency-array) and wedge (compact-forward join)
    strategies must produce identical counts on a mixed graph."""
    from commerce_sessionization_spark.operators.graph import triangle_counts

    # K4 on {1..4} + triangle {5,6,7} + pendant 7-8 + isolated edge 9-10
    g = _edges(
        spark,
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (5, 6), (6, 7), (5, 7), (7, 8), (9, 10)],
    )
    a = sorted(map(tuple, triangle_counts(g, strategy="intersect").collect()))
    b = sorted(map(tuple, triangle_counts(g, strategy="wedge").collect()))
    assert a == b
    got = {r[0]: r[2] for r in a}
    assert got[1] == 3 and got[5] == 1 and got[7] == 1


def _lpa_reference(pairs, rounds):
    """Pure-Python synchronous LPA replay: self-vote, min-label tie break."""
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = sorted({n for e in und for n in e})
    nbrs = {n: {n} for n in nodes}  # self-vote
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    lbl = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            counts = {}
            for m in nbrs[n]:
                counts[lbl[m]] = counts.get(lbl[m], 0) + 1
            new[n] = min(counts, key=lambda v: (-counts[v], v))
        lbl = new
    return lbl


def test_label_propagation_matches_reference_replay(spark):
    from commerce_sessionization_spark.operators.graph import label_propagation

    # two dense blobs bridged by one edge + a pendant chain — mix of
    # clear majorities and ties
    pairs = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]          # K5
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]  # K4
        + [(4, 10), (13, 20), (20, 21)]
    )
    for rounds in (1, 3, 5):
        got = {
            r.node: r.community
            for r in label_propagation(_edges(spark, pairs), rounds=rounds).collect()
        }
        assert got == _lpa_reference(pairs, rounds), rounds


def test_label_propagation_dense_blocks_converge_to_min_label(spark):
    from commerce_sessionization_spark.operators.graph import label_propagation

    pairs = [(a, b) for a in range(6) for b in range(a + 1, 6)] + [
        (a, b) for a in range(100, 105) for b in range(a + 1, 105)
    ]
    got = {
        r.node: r.community
        for r in label_propagation(_edges(spark, pairs), rounds=4).collect()
    }
    assert all(got[n] == 0 for n in range(6))
    assert all(got[n] == 100 for n in range(100, 105))


def test_shortest_paths_hand_graph(spark):
    from commerce_sessionization_spark.operators.graph import shortest_paths

    # path 1-2-3-4 with shortcut 1-3, plus unreachable island {8,9}
    g = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 3), (8, 9)])
    got = {r.node: r.dist for r in shortest_paths(g, source=1, rounds=5).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_shortest_paths_rounds_bound_radius(spark):
    from commerce_sessionization_spark.operators.graph import shortest_paths

    chain = _edges(spark, [(i, i + 1) for i in range(6)])
    got = {r.node: r.dist for r in shortest_paths(chain, source=0, rounds=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_shortest_paths_early_exit_equals_full_rounds(spark):
    from commerce_sessionization_spark.operators.graph import shortest_paths

    g = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    a = sorted(map(tuple, shortest_paths(g, source=1, rounds=2).collect()))
    b = sorted(map(tuple, shortest_paths(g, source=1, rounds=9).collect()))
    assert a == b


def test_lpa_round_runs_without_data_exchange(spark):
    """LPA's per-round claim: with the adjacency cached hash-partitioned
    by node and the label table broadcast, the join → mode(label)
    aggregation plans ZERO data Exchanges (hash(node) satisfies the
    groupBy(node) clustering through the broadcast join)."""
    import contextlib
    import io
    import re

    adj = (
        spark.range(2000)
        .select(F.col("id").alias("node"), (F.col("id") % 131).alias("nbr"))
        .repartition(8, F.col("node"))
        .cache()
    )
    try:
        adj.count()
        labels = spark.range(131).select(
            F.col("id").alias("nbr"), F.col("id").alias("_l")
        )
        df = (
            adj.join(F.broadcast(labels), "nbr")
            .groupBy("node")
            .agg(F.mode(F.col("_l"), True).alias("community"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        post_cache = plan.split("BroadcastExchange")[0].split("InMemoryTableScan")[0]
        assert len(re.findall(r"\(\d+\) Exchange", post_cache)) == 0, plan
    finally:
        adj.unpersist()


def test_mode_deterministic_breaks_ties_to_smallest(spark):
    """label_propagation leans on mode(col, deterministic=true) picking
    the SMALLEST value among frequency ties — pin that contract."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(g=1, v=9), Row(g=1, v=9), Row(g=1, v=4), Row(g=1, v=4),
         Row(g=2, v=7), Row(g=2, v=2), Row(g=2, v=7)]
    )
    got = {
        r.g: r.m
        for r in df.groupBy("g").agg(F.mode(F.col("v"), True).alias("m")).collect()
    }
    assert got == {1: 4, 2: 7}


def _wedges(spark, triples):
    return spark.createDataFrame(
        [Row(src=a, dst=b, w=w) for a, b, w in triples]
    )


def test_weighted_shortest_paths_prefers_cheap_multihop(spark):
    from commerce_sessionization_spark.operators.graph import (
        weighted_shortest_paths,
    )

    # direct 1-3 costs 10; the 1-2-3 route costs 2 — BFS would say 1 hop,
    # Bellman-Ford must say cost 2
    g = _wedges(spark, [(1, 2, 1), (2, 3, 1), (1, 3, 10), (3, 4, 1)])
    got = {r.node: r.dist
           for r in weighted_shortest_paths(g, source=1, rounds=5).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_weighted_shortest_paths_parallel_edges_keep_cheapest(spark):
    from commerce_sessionization_spark.operators.graph import (
        weighted_shortest_paths,
    )

    g = _wedges(spark, [(1, 2, 7), (2, 1, 3), (1, 2, 5)])
    got = {r.node: r.dist
           for r in weighted_shortest_paths(g, source=1, rounds=3).collect()}
    assert got == {1: 0, 2: 3}


def test_weighted_shortest_paths_fixpoint_equals_more_rounds(spark):
    from commerce_sessionization_spark.operators.graph import (
        weighted_shortest_paths,
    )

    g = _wedges(spark, [(1, 2, 2), (2, 3, 2), (1, 3, 5), (3, 4, 1)])
    a = sorted(map(tuple, weighted_shortest_paths(g, 1, rounds=3).collect()))
    b = sorted(map(tuple, weighted_shortest_paths(g, 1, rounds=10).collect()))
    assert a == b


# --------------------------------------------------------------------------
# HITS (round 8)
# --------------------------------------------------------------------------

def _hits_edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_hits_star_center_is_the_authority(spark):
    from commerce_sessionization_spark.operators.graph import hits

    # 3 spokes all pointing at one center: center is the sole authority,
    # spokes are equal hubs, and the L1 norms are exactly 1
    edges = _hits_edges(spark, [(1, 9), (2, 9), (3, 9)])
    rows = {r.node: r for r in hits(edges, iterations=3).collect()}
    assert rows[9].authority == pytest.approx(1.0)
    assert rows[9].hub == 0.0
    for spoke in (1, 2, 3):
        assert rows[spoke].authority == 0.0
        assert rows[spoke].hub == pytest.approx(1 / 3)
    assert sum(r.authority for r in rows.values()) == pytest.approx(1.0)
    assert sum(r.hub for r in rows.values()) == pytest.approx(1.0)


def test_hits_bipartite_separates_roles_and_ranks_by_degree(spark):
    from commerce_sessionization_spark.operators.graph import hits

    # hubs {1,2} -> authorities {10,11,12}; 10 is cited by both hubs,
    # hub 1 cites more than hub 2
    edges = _hits_edges(
        spark, [(1, 10), (1, 11), (1, 12), (2, 10)]
    )
    rows = {r.node: r for r in hits(edges, iterations=4).collect()}
    assert rows[10].authority > rows[11].authority > 0
    assert rows[11].authority == pytest.approx(rows[12].authority)
    assert rows[1].hub > rows[2].hub > 0
    # direction matters: sources never gain authority, sinks never hub
    assert rows[1].authority == 0.0 and rows[10].hub == 0.0


def test_hits_exact_and_fast_modes_agree(spark):
    from commerce_sessionization_spark.operators.graph import hits

    edges = _hits_edges(
        spark,
        [(a, b) for a in range(6) for b in range(10, 16) if (a + b) % 3],
    )
    exact = {r.node: (r.authority, r.hub)
             for r in hits(edges, iterations=3, exact=True).collect()}
    fast = {r.node: (r.authority, r.hub)
            for r in hits(edges, iterations=3, exact=False).collect()}
    assert exact.keys() == fast.keys()
    for node in exact:
        assert exact[node][0] == pytest.approx(fast[node][0], abs=1e-9)
        assert exact[node][1] == pytest.approx(fast[node][1], abs=1e-9)


def test_hits_empty_graph_returns_no_rows(spark):
    from commerce_sessionization_spark.operators.graph import hits

    edges = spark.createDataFrame([], "src long, dst long")
    assert hits(edges, iterations=2).count() == 0


def test_personalized_pagerank_matches_numpy_reference(spark):
    """Seeded teleport + dangling restart: 0→1, 1→2, 2→0, 0→3 (3
    dangling), seed {0}, 5 rounds — checked against a dense power
    iteration with the PPR update rule."""
    import numpy as np

    edges = _edges(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    verts = _verts(spark, [0, 1, 2, 3])
    seeds = _verts(spark, [0])
    out = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, verts, iterations=5, damping=0.85, seeds=seeds
        ).collect()
    }
    d, p = 0.85, np.array([1.0, 0.0, 0.0, 0.0])
    r, outdeg = p.copy(), {0: 2, 1: 1, 2: 1}
    for _ in range(5):
        nxt = np.zeros(4)
        dang = sum(r[v] for v in range(4) if v not in outdeg)
        for s, t in [(0, 1), (1, 2), (2, 0), (0, 3)]:
            nxt[t] += r[s] / outdeg[s]
        r = (1 - d) * p + d * (nxt + dang * p)
    for i in range(4):
        assert out[i] == pytest.approx(r[i], abs=1e-12)


def test_personalized_pagerank_mass_and_locality(spark):
    """Rank mass stays ~1 (the walk restarts inside the graph) and
    concentrates near the seed: on two disconnected triangles with the
    seed in the first, the second triangle's rank must be ~0."""
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    out = {
        r["node"]: r["rank"]
        for r in pagerank(
            _edges(spark, tri1 + tri2),
            _verts(spark, [0, 1, 2, 10, 11, 12]),
            iterations=8,
            seeds=_verts(spark, [0]),
        ).collect()
    }
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)
    assert out[10] == out[11] == out[12] == 0.0
    assert out[0] > out[1] > 0


def test_personalized_pagerank_uniform_seeds_equal_uniform_variant(spark):
    """Seeding EVERY vertex must reproduce classic PageRank (p == 1/N
    — same fixpoint, same arithmetic to float tolerance)."""
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
    verts = _verts(spark, [1, 2, 3])
    classic = {
        r["node"]: r["rank"]
        for r in pagerank(edges, verts, iterations=5).collect()
    }
    seeded = {
        r["node"]: r["rank"]
        for r in pagerank(edges, verts, iterations=5, seeds=verts).collect()
    }
    for k in classic:
        assert seeded[k] == pytest.approx(classic[k], abs=1e-12)


def test_personalized_pagerank_empty_seeds_raises(spark):
    with pytest.raises(ValueError):
        pagerank(
            _edges(spark, [(1, 2)]),
            _verts(spark, [1, 2]),
            seeds=_verts(spark, []).filter("node IS NOT NULL"),
        )


def test_weighted_pagerank_matches_numpy_reference(spark):
    """Rank splits ∝ edge weight: 0→1 (w=3), 0→2 (w=1), 1→0, 2→0."""
    import numpy as np
    from pyspark.sql import Row

    edges = spark.createDataFrame(
        [Row(src=0, dst=1, wt=3.0), Row(src=0, dst=2, wt=1.0),
         Row(src=1, dst=0, wt=5.0), Row(src=2, dst=0, wt=2.0)]
    )
    verts = _verts(spark, [0, 1, 2])
    out = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, verts, iterations=4, weight_col="wt"
        ).collect()
    }
    d = 0.85
    P = np.zeros((3, 3))
    P[0, 1], P[0, 2] = 0.75, 0.25
    P[1, 0], P[2, 0] = 1.0, 1.0
    r = np.full(3, 1 / 3)
    for _ in range(4):
        r = (1 - d) / 3 + d * (r @ P)
    for i in range(3):
        assert out[i] == pytest.approx(r[i], abs=1e-12)


def test_weighted_pagerank_uniform_weights_equal_unweighted(spark):
    from pyspark.sql import Row

    pairs = [(1, 2), (2, 3), (3, 1), (1, 3)]
    edges = _edges(spark, pairs)
    wedges = spark.createDataFrame(
        [Row(src=a, dst=b, wt=7.0) for a, b in pairs]
    )
    verts = _verts(spark, [1, 2, 3])
    plain = {
        r["node"]: r["rank"]
        for r in pagerank(edges, verts, iterations=5).collect()
    }
    weighted = {
        r["node"]: r["rank"]
        for r in pagerank(wedges, verts, iterations=5, weight_col="wt").collect()
    }
    for k in plain:
        assert weighted[k] == pytest.approx(plain[k], abs=1e-12)


def test_ppr_catalog_fast_matches_exact_on_testdata(spark):
    """ppr_copurchase_fast (double) vs ppr_copurchase (decimal oracle
    mode) on the real co-purchase graph at sf0.001 — same ranks to 2e-6
    (the r6-rounding granularity of the fast output)."""
    from commerce_sessionization_spark.plans.queries import (
        q_ppr_copurchase,
        q_ppr_copurchase_fast,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["node"]: r["rank_q12"] / 1e12
             for r in q_ppr_copurchase(spark, sf).collect()}
    fast = {r["node"]: r["rank_r6"]
            for r in q_ppr_copurchase_fast(spark, sf).collect()}
    assert fast.keys() == exact.keys()
    for n in fast:
        assert fast[n] == pytest.approx(exact[n], abs=2e-6)


def test_wpagerank_catalog_fast_matches_exact_on_testdata(spark):
    from commerce_sessionization_spark.plans.queries import (
        q_wpagerank_copurchase,
        q_wpagerank_copurchase_fast,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["node"]: r["rank_q12"] / 1e12
             for r in q_wpagerank_copurchase(spark, sf).collect()}
    fast = {r["node"]: r["rank_r6"]
            for r in q_wpagerank_copurchase_fast(spark, sf).collect()}
    assert fast.keys() == exact.keys()
    for n in fast:
        assert fast[n] == pytest.approx(exact[n], abs=2e-6)


def test_hits_catalog_fast_matches_exact_on_testdata(spark):
    from commerce_sessionization_spark.plans.queries import (
        q_hits_copurchase,
        q_hits_copurchase_fast,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["node"]: (r["auth_q12"] / 1e12, r["hub_q12"] / 1e12)
             for r in q_hits_copurchase(spark, sf).collect()}
    fast = {r["node"]: (r["auth_r6"], r["hub_r6"])
            for r in q_hits_copurchase_fast(spark, sf).collect()}
    assert fast.keys() == exact.keys()
    for n in fast:
        assert fast[n][0] == pytest.approx(exact[n][0], abs=2e-6)
        assert fast[n][1] == pytest.approx(exact[n][1], abs=2e-6)


def _rank_bits(ranks) -> dict:
    """node -> the rank's IEEE-754 bytes: float ``==`` equates 0.0 and
    -0.0, byte equality is bit identity."""
    return {r["node"]: struct.pack("<d", r["rank"]) for r in ranks.collect()}


class TestPagerankExactLongSplit:
    """Round-11 long-split accumulation (graph.pagerank, broadcast
    regime): the hi/lo LONG sums + decimal merge must reproduce the
    all-decimal per-round sum BIT-FOR-BIT. Exact mode is
    order-independent by contract, so the shuffle-regime
    (partition_invariants=False) all-decimal path is a same-values
    reference for the split path it gates on."""

    def _pairs(self):
        # ring + chords + a dangling tail + an isolated vertex:
        # exercises contribs, the dangling aggregate, AND null _outdeg
        return [(i, (i + 1) % 8) for i in range(8)] + [
            (0, 4), (2, 6), (7, 8), (3, 5), (5, 3),
        ]

    @pytest.mark.parametrize("damping", [0.85, 1.0, 0.0])
    def test_split_matches_all_decimal(self, spark, damping):
        e = _edges(spark, self._pairs())
        v = _verts(spark, range(10))
        split = _rank_bits(
            pagerank(e, v, iterations=5, damping=damping, exact=True)
        )
        ref = _rank_bits(
            pagerank(
                e, v, iterations=5, damping=damping, exact=True,
                partition_invariants=False,
            )
        )
        assert split == ref

    def test_seeded_split_matches_all_decimal(self, spark):
        e = _edges(spark, self._pairs())
        v = _verts(spark, range(10))
        s = _verts(spark, [0, 3])
        split = _rank_bits(pagerank(e, v, iterations=5, exact=True, seeds=s))
        ref = _rank_bits(
            pagerank(
                e, v, iterations=5, exact=True, seeds=s,
                partition_invariants=False,
            )
        )
        assert split == ref

    def test_out_of_domain_damping_falls_back(self, spark):
        # damping > 1 voids the mass-conservation bound the long split
        # relies on; the gate must keep the all-decimal path and still
        # agree with the shuffle-regime reference
        e = _edges(spark, self._pairs())
        v = _verts(spark, range(10))
        split = _rank_bits(
            pagerank(e, v, iterations=3, damping=1.5, exact=True)
        )
        ref = _rank_bits(
            pagerank(
                e, v, iterations=3, damping=1.5, exact=True,
                partition_invariants=False,
            )
        )
        assert split == ref

    def test_duplicated_vertex_ids_raise(self, spark):
        # out of domain: vertex ids must be unique. 200 copies of node 0
        # put ~200 units of rank mass where the split assumes 1, and the
        # decimal merge cast overflows; ANSI turns that into an error,
        # never a plausible wrong rank
        e = _edges(spark, [(0, 1), (1, 0)])
        v = _verts(spark, [0] * 200 + [1])
        with pytest.raises(ArithmeticException, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            pagerank(e, v, iterations=5, exact=True).collect()
