"""Connected-components semantics: min-label determinism, chain
propagation (multi-round convergence), isolated vertices, and the
large-star/small-star variant's equivalence + round advantage."""

from __future__ import annotations

import random

import pytest

from flink_streaming_twitter_spark.operators.graph import (
    connected_components,
    connected_components_star,
)


def test_components_label_by_min_id_across_chains(spark):
    # chain 1-2-3-4 (diameter > 1 forces several propagation rounds),
    # pair 10-11, isolated 99
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["id"])
    out = {r.id: r.comp for r in connected_components(edges, nodes=nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_components_without_node_table_covers_edge_endpoints(spark):
    edges = spark.createDataFrame([(5, 6), (6, 7)], ["src", "dst"])
    out = {r.id: r.comp for r in connected_components(edges).collect()}
    assert out == {5: 5, 6: 5, 7: 5}


def test_star_matches_plain_on_fixture_and_handles_self_loops(spark):
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["id"])
    out = {r.id: r.comp for r in connected_components_star(edges, nodes=nodes).collect()}
    # self-loop-only node 20 is its own singleton, like plain propagation
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 99: 99}


def test_star_matches_plain_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])
        plain = {r.id: r.comp for r in connected_components(df).collect()}
        star = {r.id: r.comp for r in connected_components_star(df).collect()}
        assert star == plain, f"trial {trial}"


def test_star_needs_far_fewer_rounds_on_deep_chain(spark):
    """The reason the star formulation exists: plain min-label
    propagation moves the minimum ONE hop per round (O(diameter));
    large-star/small-star contracts the chain in O(log n) rounds —
    the difference that keeps transitive dedup-cluster chains feasible
    at 100x depth. On a path longer than MAX_ROUNDS hops the plain
    closure gives up, while the star closure labels every node with the
    path's minimum within its own, smaller bound."""
    from flink_streaming_twitter_spark.operators.graph import MAX_ROUNDS, STAR_MAX_ROUNDS

    n = 40  # a path of 39 hops
    assert n - 1 > MAX_ROUNDS > STAR_MAX_ROUNDS
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match=f"did not converge in {MAX_ROUNDS} rounds"):
        connected_components(df)
    star = {r.id: r.comp for r in connected_components_star(df).collect()}
    assert star == {i: 0 for i in range(n)}


def test_neighbour_minimum_start_saves_a_join_round(spark):
    """Labels start at each node's neighbourhood minimum, so a clique is
    labelled before the first join round (which only confirms it) and a
    star whose minimum is a leaf needs one round to carry that minimum
    from the centre to the other leaves, plus the confirming round."""
    triangle = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    stats: dict = {}
    out = {r.id: r.comp for r in connected_components(triangle, stats=stats).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    assert stats["rounds"] == 1

    star = spark.createDataFrame([(5, 1), (5, 6), (5, 7), (5, 8)], ["src", "dst"])
    stats = {}
    out = {r.id: r.comp for r in connected_components(star, stats=stats).collect()}
    assert out == {1: 1, 5: 1, 6: 1, 7: 1, 8: 1}
    assert stats["rounds"] == 2
