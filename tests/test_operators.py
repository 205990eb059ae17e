"""Unit tests for the closure and linking operators on tiny
hand-built inputs."""

import pytest

from extract_cbd_shape_spark.operators.closure import (
    connected_components,
    transitive_closure,
)
from extract_cbd_shape_spark.operators.linking import link_mentions, mentions_from_docs


TEXT_A = "the quick brown fox jumps over the lazy dog again and again today"
TEXT_B = "the quick brown fox jumps over the lazy dog again and again"
TEXT_C = "completely different words about spark query engines and shuffles"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C), (4, TEXT_A)],
        "doc_id long, text string",
    )


def test_transitive_closure_cycle(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {(r.seed, r.node) for r in transitive_closure(edges, seeds).collect()}
    assert got == {(1, 1), (1, 2), (1, 3)}


def test_transitive_closure_jump_matches_bfs(spark):
    # deep chain + cycle + disconnected piece: functional edge set, so
    # auto routes to pointer jumping; pin jump == bfs pair-for-pair,
    # with and without the identity part
    rows = [(i, i + 1) for i in range(1, 40)] + [(40, 17), (100, 101)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (100,), (999,)], "node long")
    for inc in (True, False):
        bfs = {(r.seed, r.node) for r in transitive_closure(
            edges, seeds, include_seeds=inc, method="bfs").collect()}
        jump = {(r.seed, r.node) for r in transitive_closure(
            edges, seeds, include_seeds=inc, method="jump").collect()}
        assert jump == bfs
        assert ((1, 1) in bfs) == inc
    import pytest as _pytest

    with _pytest.raises(ValueError):
        transitive_closure(edges, seeds, method="Jump")


def test_transitive_closure_auto_duplicate_edges_still_jump(spark):
    # duplicate (src, dst) rows are still a functional graph — the
    # probe must not read them as fan-out (countDistinct) and the
    # squared successor map must not multiply them
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {(r.seed, r.node) for r in transitive_closure(edges, seeds).collect()}
    assert got == {(1, 1), (1, 2), (1, 3), (1, 4)}


def test_transitive_closure_auto_fanout_uses_bfs(spark):
    # fan-out (src 1 has two successors) must NOT take the jump path;
    # auto still returns the right closure
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {(r.seed, r.node) for r in transitive_closure(edges, seeds).collect()}
    assert got == {(1, 1), (1, 2), (1, 3), (1, 4)}


def test_connected_components_chain_and_star(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13), (20, 20)],
        "src long, dst long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == comp[13] == 10
    assert comp[20] == 20


def test_entity_linking_salted(spark, docs):
    mentions = mentions_from_docs(docs)
    dictionary = spark.createDataFrame(
        [("fox", "ent:fox"), ("spark", "ent:spark")],
        "surface_form string, entity_id string",
    )
    links = {(r.doc_id, r.entity_id) for r in
             link_mentions(mentions, dictionary, salt=4).collect()}
    assert (1, "ent:fox") in links and (2, "ent:fox") in links
    assert (3, "ent:spark") in links
    assert not any(d == 3 and e == "ent:fox" for d, e in links)


def test_connected_components_driver_parity(spark):
    """Driver union-find == distributed large-star/small-star on random
    graphs (same (node, component=min id) contract)."""
    import random

    from extract_cbd_shape_spark.operators.closure import (
        connected_components,
        connected_components_driver,
    )

    rng = random.Random(5)
    for trial in range(4):
        n = rng.randint(2, 60)
        edges = [(f"n{rng.randint(0, n)}", f"n{rng.randint(0, n)}")
                 for _ in range(rng.randint(1, 120))]
        df = spark.createDataFrame(edges, "src string, dst string")
        a = {(r.node, r.component)
             for r in connected_components(df).collect()}
        b = {(r.node, r.component)
             for r in connected_components_driver(df).collect()}
        assert a == b, (trial, sorted(a ^ b)[:6])

    empty = spark.createDataFrame([], "src string, dst string")
    assert connected_components_driver(empty).count() == 0
