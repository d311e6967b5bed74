"""pagerank: hand-checked tiny graph, mass conservation, dangling guard."""

from __future__ import annotations

import pytest

from redshells_spark.operators.graph import pagerank, symmetrize_edges


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_two_node_cycle_is_uniform(spark):
    # a <-> b: uniform start is the exact fixpoint
    pr = pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=4)
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    assert ranks == {"a": 0.5, "b": 0.5}


def test_star_center_dominates_and_mass_conserved(spark):
    e = symmetrize_edges(_edges(spark, [("hub", x) for x in ("a", "b", "c", "d")]))
    pr = pagerank(e, iterations=10, checkpoint_every=3)
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")
    # no dangling nodes -> total rank mass stays 1
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)
    # spokes are symmetric
    spoke = [v for k, v in ranks.items() if k != "hub"]
    assert max(spoke) == pytest.approx(min(spoke), abs=1e-12)


def test_dangling_nodes_refused(spark):
    with pytest.raises(ValueError, match="dangling"):
        pagerank(_edges(spark, [("a", "b")]))


def test_symmetrize(spark):
    e = symmetrize_edges(_edges(spark, [("a", "b"), ("a", "b"), ("b", "a")]))
    assert sorted((r["src"], r["dst"]) for r in e.collect()) == [("a", "b"), ("b", "a")]


def test_triangle_counts_hand_checked(spark):
    from redshells_spark.operators.graph import count_triangles_per_node

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-5
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in count_triangles_per_node(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # node 5 is in no triangle


def test_triangle_free_graph_empty(spark):
    from redshells_spark.operators.graph import count_triangles_per_node

    # a path graph has no triangles
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert count_triangles_per_node(e).count() == 0


def test_bounded_shortest_paths_prefers_cheap_two_hop(spark):
    from redshells_spark.operators.graph import bounded_shortest_paths

    # a->c direct cost 10; a->b->c cost 2+3=5; d unreachable in k=2
    edges = spark.createDataFrame(
        [("a", "c", 10), ("a", "b", 2), ("b", "c", 3), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    sources = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in
           bounded_shortest_paths(edges, sources, k=2).collect()}
    assert got == {"a": 0, "b": 2, "c": 5, "d": 11}
    # k=3 lets the path continue through c
    got3 = {r["node"]: r["dist"] for r in
            bounded_shortest_paths(edges, sources, k=3).collect()}
    assert got3["d"] == 6


def test_bounded_shortest_paths_zero_rounds(spark):
    from redshells_spark.operators.graph import bounded_shortest_paths

    edges = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    sources = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["dist"] for r in
           bounded_shortest_paths(edges, sources, k=0).collect()}
    assert got == {"a": 0}


def test_superstep_broadcast_and_shuffle_paths_agree(spark):
    # round-9 internals change: frontier/label vectors broadcast while
    # small, sizes tracked arithmetically, min-combine replaced by
    # disjoint union (BFS) / anti+union (Bellman-Ford). Forcing the
    # broadcast cap to 0 exercises the shuffle fallback — both paths
    # must produce identical results.
    import random

    from redshells_spark.operators.graph import (
        bounded_shortest_paths,
        k_hop_distances,
        katz_walk_counts,
        min_label_propagation,
        symmetrize_edges,
    )

    rng = random.Random(9)
    raw = list({(rng.randrange(25), rng.randrange(25)) for _ in range(70)})
    raw = [(a, b) for a, b in raw if a != b]
    e = symmetrize_edges(spark.createDataFrame(raw, "src bigint, dst bigint"))
    s = spark.createDataFrame([(0,), (1,)], "node bigint")

    k_b = {r["node"]: r["dist"] for r in k_hop_distances(e, s, k=3).collect()}
    k_s = {
        r["node"]: r["dist"]
        for r in k_hop_distances(e, s, k=3, max_broadcast_frontier=0).collect()
    }
    assert k_b == k_s and k_b[0] == 0

    we = spark.createDataFrame(
        [(a, b, (a * 7 + b) % 5 + 1) for a, b in raw], "src bigint, dst bigint, w long"
    )
    w_b = {r["node"]: r["dist"] for r in bounded_shortest_paths(we, s, k=3).collect()}
    w_s = {
        r["node"]: r["dist"]
        for r in bounded_shortest_paths(
            we, s, k=3, max_broadcast_frontier=0
        ).collect()
    }
    assert w_b == w_s and w_b[0] == 0

    l_b = {r["node"]: r["lab"] for r in min_label_propagation(e, rounds=2).collect()}
    l_s = {
        r["node"]: r["lab"]
        for r in min_label_propagation(e, rounds=2, max_broadcast_nodes=0).collect()
    }
    assert l_b == l_s

    kz_b = {r["node"]: r["katz_x64"] for r in katz_walk_counts(e).collect()}
    kz_s = {
        r["node"]: r["katz_x64"]
        for r in katz_walk_counts(e, max_broadcast_nodes=0).collect()
    }
    assert kz_b == kz_s


def test_pin_count_is_one_job_and_exact(spark):
    from redshells_spark.operators.graph import _pin_count

    sc = spark.sparkContext
    sc.setJobGroup("test_pin_count", "pin_count")
    try:
        pinned, n = _pin_count(spark.range(37).filter("id % 3 != 0"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 24
    assert len(sc.statusTracker().getJobIdsForGroup("test_pin_count")) == 1
    assert pinned.count() == 24
    assert _pin_count(spark.range(5).filter("id < 0"))[1] == 0


@pytest.mark.parametrize(
    "k, expected",
    [
        (0, {1: 0, 3: 0}),
        (1, {1: 0, 3: 0, 2: 1, 4: 1}),
        # saturates at hop 3: hop 4's frontier is empty
        (4, {1: 0, 3: 0, 2: 1, 4: 1, 5: 2, 6: 3}),
    ],
)
def test_k_hop_distances_on_a_path(spark, k, expected):
    from redshells_spark.operators.graph import k_hop_distances

    # directed path 1 -> 2 -> ... -> 6, BFS from {1, 3}
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "src long, dst long")
    s = spark.createDataFrame([(1,), (3,)], "node long")
    got = {r["node"]: r["dist"] for r in k_hop_distances(e, s, k=k).collect()}
    assert got == expected


def test_session_lets_aqe_size_cached_relations(spark):
    # the session default lets AQE coalesce a cached aggregate: a tiny
    # relation must not keep one partition per shuffle partition
    from pyspark.sql import functions as F

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 8
    agg = (
        spark.range(1000, numPartitions=4)
        .groupBy((F.col("id") % 5).alias("k"))
        .count()
        .cache()
    )
    try:
        assert agg.count() == 5
        assert agg.rdd.getNumPartitions() < 8
    finally:
        agg.unpersist()
