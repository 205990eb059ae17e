"""Unit tests for the closure, linking and similarity operators on tiny
hand-built inputs."""

import pytest
from pyspark.sql import functions as F

from extract_cbd_shape_spark.operators.closure import (
    connected_components,
    transitive_closure,
)
from extract_cbd_shape_spark.operators.linking import link_mentions, mentions_from_docs
from extract_cbd_shape_spark.operators.similarity import (
    cosine_near_dups,
    cosine_topk,
    sign_lsh_buckets,
)


TEXT_A = "the quick brown fox jumps over the lazy dog again and again today"
TEXT_B = "the quick brown fox jumps over the lazy dog again and again"  # near-dup
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


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = vecs.filter(F.col("vec_id") == 0)
    got = [(r.neighbor_id, r.rank) for r in
           cosine_topk(vecs, queries, k=3).orderBy("rank").collect()]
    assert got[0] == (1, 1)
    assert got[1] == (2, 2)
    assert got[2] == (3, 3)


def test_sign_lsh_buckets_deterministic(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    b = {r.vec_id: r.bucket for r in sign_lsh_buckets(vecs).collect()}
    assert b[0] == b[1]
    assert b[0] != b[2]


def test_cosine_near_dups_planted_pairs(spark):
    """Banded sign-LSH + exact verify recovers planted near-duplicates
    (a slightly perturbed copy of each base vector) and emits no pair
    below the cosine threshold."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
        if i % 4 == 0:  # planted near-dup: tiny additive perturbation
            rows.append((i + 1000, [x + 0.02 for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_near_dups(vecs, threshold=0.95).collect()
    pairs = {(r.left_id, r.right_id) for r in got}
    assert {(i, i + 1000) for i in range(0, 40, 4)} <= pairs
    assert all(r.score >= 0.95 for r in got)


def test_ivf_kmeans_recall_vs_exact(spark):
    """IVF with Lloyd's k-means centroids (r3): recall@5 against the
    cosine_topk exactness baseline is reported and must rise
    monotonically with nprobe, reaching >= 0.8 at nprobe=16 (half the
    centroid count). Also pins determinism: two kmeans_centroids runs
    are bit-identical (decimal-exact means — the property the DuckDB
    oracle mirror relies on)."""
    from pyspark.sql import functions as F

    from extract_cbd_shape_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    recalls = []
    for nprobe in (2, 8, 16):
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(emb, q, k=5, nprobe=nprobe).collect()}
        recalls.append(len(exact & approx) / len(exact))
    print(f"ivf recall@5 by nprobe(2,8,16): {recalls}")
    assert recalls == sorted(recalls)  # more probes never lose recall
    assert recalls[-1] >= 0.8

    c1 = sorted(map(tuple, ((r.centroid_id, tuple(r.cv))
                for r in kmeans_centroids(emb).collect())))
    c2 = sorted(map(tuple, ((r.centroid_id, tuple(r.cv))
                for r in kmeans_centroids(emb).collect())))
    assert c1 == c2


def test_semantic_dedup_groups_and_reps(spark):
    """SemDeDup composition: planted duplicate CHAINS collapse to one
    representative (min id) via connected components; singletons keep
    themselves."""
    import random

    from extract_cbd_shape_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    rows = []
    for i in range(24):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
        if i % 6 == 0:  # chain: i ~ i+100 ~ i+200 (two perturbations)
            rows.append((i + 100, [x + 0.015 for x in v]))
            rows.append((i + 200, [x + 0.03 for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        vecs, threshold=0.95, stride=8, n_iter=1).collect()}
    assert len(out) == len(rows)
    for i in range(0, 24, 6):
        group = [i, i + 100, i + 200]
        reps = {out[g].rep_id for g in group}
        # the chain must collapse to ONE representative: the min id
        assert reps == {i}, (i, reps)
        assert out[i].keep and not out[i + 100].keep and not out[i + 200].keep
    # untouched singletons keep themselves
    for i in range(24):
        if i % 6 != 0:
            assert out[i].keep and out[i].rep_id == i
    # keep-filtered corpus has exactly one row per duplicate group
    kept = [k for k, r in out.items() if r.keep]
    assert len(kept) == 24


def test_cell_assignment_is_map_side(spark):
    """VERDICT r4 #5: cell assignment must not exchange the embedding
    side — the old crossJoin+window plan hash-partitioned n x k rows
    carrying full vectors just to rank <= nprobe scores per id. The
    vectorized plan's only exchange is the tiny SinglePartition
    centroid-array aggregate (broadcast side)."""
    from pyspark.sql import functions as F

    from extract_cbd_shape_spark.operators.similarity import (
        _assign_cells,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # checkpoint the centroids so their OWN build lineage (kmeans mean
    # aggregates legitimately shuffle) doesn't appear in the plan under
    # assertion — the claim is about the ASSIGNMENT subplan
    cents = kmeans_centroids(emb, stride=8, n_iter=1).localCheckpoint()
    e = emb.select(F.col("vec_id").alias("_id"),
                   F.col("embedding").alias("_v"))
    member = _assign_cells(e, cents, 2, "_id", "_v")
    assert member.count() > 0
    plan = member._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_kmeans_empty_seed_fallback(spark):
    """ADVICE r4: N on the order of stride can leave zero
    id % stride == 0 seeds; the fallback must still produce >= 1
    centroid so semantic_dedup keeps finding duplicates instead of
    silently keeping everything."""
    from extract_cbd_shape_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    rows = [(i, [float(i + 1)] * 8) for i in (1, 2, 3, 5, 7)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert kmeans_centroids(vecs, stride=64, n_iter=1).count() >= 1

    # planted exact-direction duplicate must collapse even when the
    # mod-stride seed set is empty (all parallel vectors here: cosine 1)
    out = {r.vec_id: r for r in semantic_dedup(
        vecs, threshold=0.999, stride=64, n_iter=1).collect()}
    assert not out[2].keep and out[2].rep_id == 1
    assert out[1].keep


def test_semantic_dedup_string_ids(spark):
    """ids keep their native type: string ids (doc URLs) must dedup —
    the earlier long-cast silently kept every duplicate."""
    from extract_cbd_shape_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [("doc:a", [1.0] * 8), ("doc:b", [1.01] * 8), ("doc:z", [-1.0] * 8)],
        "vec_id string, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        vecs, threshold=0.99, stride=1, n_iter=1).collect()}
    assert out["doc:a"].keep and out["doc:a"].rep_id == "doc:a"
    assert not out["doc:b"].keep and out["doc:b"].rep_id == "doc:a"
    assert out["doc:z"].keep


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
