"""Co-visitation graph + fixed-point integer PageRank operators."""

from __future__ import annotations

import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.operators.graph import (
    RANK_SCALE,
    covisit_edges,
    pagerank_fixed_int,
)
from tests.oracles import pagerank_fixed_int_reference


def _ranks(df) -> dict[int, int]:
    return {r["v"]: r["rank_scaled"] for r in df.collect()}


def test_covisit_edges_counts_transitions(spark):
    rows = [
        # user 1 visits 10 -> 20 -> 20 -> 10 (self-transition dropped)
        Row(user_id=1, ts=1, event_id=1, k=10),
        Row(user_id=1, ts=2, event_id=2, k=20),
        Row(user_id=1, ts=3, event_id=3, k=20),
        Row(user_id=1, ts=4, event_id=4, k=10),
        # user 2 visits 10 -> 20 (repeat edge), then a null item
        Row(user_id=2, ts=1, event_id=5, k=10),
        Row(user_id=2, ts=2, event_id=6, k=20),
        Row(user_id=2, ts=3, event_id=7, k=None),
        # transitions never cross users
        Row(user_id=3, ts=1, event_id=8, k=99),
    ]
    ev = spark.createDataFrame(rows)
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in covisit_edges(ev, F.col("k")).collect()
    }
    assert got == {(10, 20): 2, (20, 10): 1}


def test_covisit_tiebreak_is_the_trailing_order_col(spark):
    # equal ts: event_id must decide the visit order deterministically
    rows = [
        Row(user_id=1, ts=5, event_id=2, k=30),
        Row(user_id=1, ts=5, event_id=1, k=10),
        Row(user_id=1, ts=5, event_id=3, k=20),
    ]
    got = {
        (r["src"], r["dst"])
        for r in covisit_edges(spark.createDataFrame(rows), F.col("k")).collect()
    }
    assert got == {(10, 30), (30, 20)}


def _random_graph(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    nodes = list(range(n_nodes))
    weighted: dict[tuple[int, int], int] = {}
    for _ in range(n_edges):
        u, v = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if u == v:
            continue
        weighted[(u, v)] = weighted.get((u, v), 0) + rng.randrange(1, 4)
    edges = [(u, v, w) for (u, v), w in sorted(weighted.items())]
    return nodes, edges


def test_pagerank_matches_pure_python_replica(spark):
    # includes dangling nodes (mass leak) and isolated nodes (base only)
    nodes, edges = _random_graph(seed=7, n_nodes=23, n_edges=60)
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    edges_df = spark.createDataFrame(
        [Row(src=u, dst=v, w=w) for u, v, w in edges]
    )
    got = _ranks(pagerank_fixed_int(nodes_df, edges_df, iters=3))
    want = pagerank_fixed_int_reference(nodes, edges, iters=3)
    assert got == want


def test_pagerank_is_partitioning_invariant(spark):
    nodes, edges = _random_graph(seed=11, n_nodes=17, n_edges=40)
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    edges_df = spark.createDataFrame(
        [Row(src=u, dst=v, w=w) for u, v, w in edges]
    )
    base = _ranks(pagerank_fixed_int(nodes_df, edges_df, iters=4))
    shuffled = _ranks(
        pagerank_fixed_int(nodes_df.repartition(7), edges_df.repartition(5), iters=4)
    )
    assert base == shuffled


def test_pagerank_mass_and_floor_invariants(spark):
    nodes, edges = _random_graph(seed=3, n_nodes=12, n_edges=30)
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    edges_df = spark.createDataFrame(
        [Row(src=u, dst=v, w=w) for u, v, w in edges]
    )
    ranks = _ranks(pagerank_fixed_int(nodes_df, edges_df, iters=3))
    assert set(ranks) == set(nodes)
    # total mass never exceeds the scale (integer floors + dangling
    # leak only ever REMOVE mass), and every node keeps >= its
    # teleport share's floor
    base = (RANK_SCALE - (RANK_SCALE * 85) // 100) // len(nodes)
    assert sum(ranks.values()) <= RANK_SCALE
    assert all(r >= base for r in ranks.values())


def test_pagerank_two_node_cycle_closed_form(spark):
    # A <-> B with no leak: each node's inflow is the other's full
    # rank, so the integer recurrence is r' = base + (85*r)//100
    nodes_df = spark.createDataFrame([Row(v=0), Row(v=1)])
    edges_df = spark.createDataFrame(
        [Row(src=0, dst=1, w=1), Row(src=1, dst=0, w=1)]
    )
    got = _ranks(pagerank_fixed_int(nodes_df, edges_df, iters=3))
    base = (RANK_SCALE - (RANK_SCALE * 85) // 100) // 2
    r = RANK_SCALE // 2
    for _ in range(3):
        r = base + (85 * r) // 100
    assert got == {0: r, 1: r}


def test_triangle_counts_known_graphs(spark):
    from aws_ipl_data_pipeline_spark.operators.graph import triangle_counts

    def counts(edge_list):
        df = spark.createDataFrame(
            [Row(src=u, dst=v) for u, v in edge_list]
        )
        return {r["v"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    # K4: 4 triangles, every node in exactly 3 (duplicates/reversed/self
    # edges must be inert)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 0)]
    assert counts(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # star graph: hub never forms a triangle
    star = [(0, i) for i in range(1, 8)]
    assert counts(star) == {i: 0 for i in range(8)}
    # one triangle with a pendant edge
    tri = [(1, 2), (2, 3), (3, 1), (3, 4)]
    assert counts(tri) == {1: 1, 2: 1, 3: 1, 4: 0}


def test_triangle_counts_match_naive_reference(spark):
    from aws_ipl_data_pipeline_spark.operators.graph import triangle_counts

    nodes, edges = _random_graph(seed=19, n_nodes=15, n_edges=60)
    und = {(min(u, v), max(u, v)) for u, v, _ in edges}
    naive = {v: 0 for v in nodes}
    es = sorted(und)
    for i, (a, b) in enumerate(es):
        for c, d in es[i + 1 :]:
            third = {a, b} ^ {c, d}
            if len(third) == 2 and tuple(sorted(third)) in und:
                for x in {a, b} | {c, d}:
                    naive[x] += 1
    # each triangle was found 3 times (once per edge pair)
    naive = {v: n // 3 for v, n in naive.items()}
    df = spark.createDataFrame([Row(src=u, dst=v) for u, v in sorted(und)])
    got = {r["v"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    present = {v for e in und for v in e}
    assert got == {v: naive[v] for v in present}


def test_personalized_pagerank_matches_replica_and_zeroes_unreachable(spark):
    nodes, edges = _random_graph(seed=23, n_nodes=14, n_edges=30)
    # isolate node 13 completely: unreachable from any seed -> exactly 0
    edges = [(u, v, w) for u, v, w in edges if 13 not in (u, v)]
    seeds = [0, 1, 2]
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    edges_df = spark.createDataFrame(
        [Row(src=u, dst=v, w=w) for u, v, w in edges]
    )
    seeds_df = nodes_df.where(F.col("v") < 3)
    got = _ranks(
        pagerank_fixed_int(nodes_df, edges_df, iters=3, seeds=seeds_df)
    )
    want = pagerank_fixed_int_reference(nodes, edges, iters=3, seed_ids=seeds)
    assert got == want
    assert got[13] == 0
    # seeds hold teleport mass; total never exceeds the scale
    assert all(got[s] > 0 for s in seeds)
    assert sum(got.values()) <= RANK_SCALE


def test_personalized_pagerank_empty_and_duplicate_seeds(spark):
    nodes, edges = _random_graph(seed=29, n_nodes=8, n_edges=16)
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    edges_df = spark.createDataFrame(
        [Row(src=u, dst=v, w=w) for u, v, w in edges]
    )
    # empty seed set: total (all-zero) on BOTH forms, matching the SQL
    # oracle's CASE-guarded behavior — never an error
    empty = nodes_df.where(F.col("v") < 0)
    got = _ranks(pagerank_fixed_int(nodes_df, edges_df, iters=2, seeds=empty))
    assert got == {v: 0 for v in nodes}
    assert pagerank_fixed_int_reference(nodes, edges, iters=2, seed_ids=[]) == got
    # duplicate seed rows are deduped, not double-counted
    dup_seeds = spark.createDataFrame([Row(v=0), Row(v=0), Row(v=1)])
    got_dup = _ranks(
        pagerank_fixed_int(nodes_df, edges_df, iters=2, seeds=dup_seeds)
    )
    want = pagerank_fixed_int_reference(
        nodes, edges, iters=2, seed_ids=[0, 0, 1]
    )
    clean = pagerank_fixed_int_reference(nodes, edges, iters=2, seed_ids=[0, 1])
    assert got_dup == want == clean


def test_bfs_distances_chain_and_unreachable(spark):
    """Min-hop semantics on a constructed graph: a chain past the hop
    bound (nodes beyond max_hops absent), a shortcut (min of two path
    lengths wins), multi-source (distance from the NEAREST seed), a
    node unreachable along edge direction (absent — edges are
    directed), and duplicate seed rows deduped."""
    from aws_ipl_data_pipeline_spark.operators.graph import bfs_distances

    # chain 0->1->2->3->4->5->6, shortcut 0->3, reverse-only edge 8->0,
    # second seed 10 -> 4
    edges = spark.createDataFrame(
        [
            Row(src=0, dst=1, w=1),
            Row(src=1, dst=2, w=1),
            Row(src=2, dst=3, w=1),
            Row(src=3, dst=4, w=1),
            Row(src=4, dst=5, w=1),
            Row(src=5, dst=6, w=1),
            Row(src=0, dst=3, w=1),
            Row(src=8, dst=0, w=1),
            Row(src=10, dst=4, w=1),
        ]
    )
    seeds = spark.createDataFrame([Row(v=0), Row(v=0), Row(v=10)])
    got = {
        r["v"]: r["dist"]
        for r in bfs_distances(seeds, edges, max_hops=3).collect()
    }
    assert got == {
        0: 0,
        10: 0,
        1: 1,  # 0->1
        3: 1,  # shortcut beats 0->1->2->3
        4: 1,  # nearest seed is 10, not 0 (which is 2 via shortcut)
        2: 2,  # 0->1->2
        5: 2,  # 10->4->5
        6: 3,  # 10->4->5->6
        # 8 unreachable (edge points INTO the seed); nothing past hop 3
    }


def test_top_out_edges_keeps_strongest_with_deterministic_ties(spark):
    from aws_ipl_data_pipeline_spark.operators.graph import top_out_edges

    edges = spark.createDataFrame(
        [
            Row(src=1, dst=10, w=5),
            Row(src=1, dst=11, w=3),
            Row(src=1, dst=12, w=3),  # tie with 11 -> dst asc wins
            Row(src=1, dst=13, w=9),
            Row(src=2, dst=10, w=1),  # under-m node keeps all edges
        ]
    )
    got = {
        (r["src"], r["dst"]) for r in top_out_edges(edges, m=2).collect()
    }
    assert got == {(1, 13), (1, 10), (2, 10)}
    got3 = {
        (r["src"], r["dst"]) for r in top_out_edges(edges, m=3).collect()
    }
    assert got3 == {(1, 13), (1, 10), (1, 11), (2, 10)}
