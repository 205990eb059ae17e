"""Randomized THREE-engine parity: global fixpoint engine vs store-local
per-member interpreter vs CSR bucket kernel on seeded-random corpora
(both store-local kernels run through the sink-fused path).

Extends the store-agnostic parity idea of the reference
(tests/08 - store agnostic/store-agnostic.test.ts:27-78 runs the same
extraction over two store backends) to the three physical engines, over
randomized store topologies instead of one fixture. Every store's node
values (IRIs, blank labels, named graphs) are namespaced by store so the
global engine's single-graph run is semantically the union of the
per-store extractions the local engines compute.

Shapes stay inside the exact-parity family (one self-recursive shape —
single-hop matches, alternative single hops, single-hop and chained
nodeLinks): the documented bulk-claim and found()-gating divergence
classes involve multiple shapes or shared trie positions and are pinned
by their own tests. The Zipf stores make blanks multi-parent on
purpose (a forced blank cycle), and there a chained (multi-hop) nodeLink
is the documented word-claim corner: the interpreter claims a blank's
word on its first route, the kernel on any route
(test_vec_gating.test_multi_parent_blank_word_claim_divergence_pinned).
Their shapes therefore keep to single-hop paths and links.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import BLANK, IRI, LITERAL, QUAD_COLS, Term
from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
from extract_cbd_shape_spark.rdf import parse_trig
from extract_cbd_shape_spark.shapes import ShapesGraph

from tests.test_property_parity import _shape_ttl

_QUAD_SCHEMA = (
    "subject string, subject_kind tinyint, predicate string, "
    "object_value string, object_kind tinyint, object_lang string, "
    "object_datatype string, graph string, graph_kind tinyint"
)
PREDS = ["http://x/p", "http://x/q", "http://x/r",
         "http://x/link", "http://x/next"]
LITS = [("v1", None, None), ("v1", "en", None),
        ("2", None, "http://www.w3.org/2001/XMLSchema#integer")]


def _random_store(rng: random.Random, si: int, zipf: bool = False):
    """Quad rows + member IRIs for one store, all values namespaced.

    With ``zipf`` subjects and objects are drawn by rank weight 1/rank,
    so a few nodes carry most edges (hot hubs), and the store also holds
    a blank cycle b0 -> b1 -> b0 and a blank self-loop b1 -> b1, linked
    from both member candidates."""
    base = f"http://x/{si}/"
    iris = [base + v for v in ("M1", "M2", "A", "B", "C")]
    blanks = [f"b{si}_0", f"b{si}_1"]
    nodes = [(v, IRI) for v in iris] + [(v, BLANK) for v in blanks]
    graphs = [(None, None), (iris[0], IRI), (iris[1], IRI),
              (base + "G", IRI), (blanks[0], BLANK)]
    if zipf:
        rng.shuffle(nodes)  # which nodes get the high ranks
        weights = [1 / (rank + 1) for rank in range(len(nodes))]

        def node():
            return rng.choices(nodes, weights)[0]
    else:
        def node():
            return rng.choice(nodes)
    rows = []
    for _ in range(rng.randrange(4, 28)):
        sv, sk = node()
        pred = rng.choice(PREDS)
        if rng.random() < 0.3:
            ov, lg, dt = rng.choice(LITS)
            ok = LITERAL
        else:
            ov, ok = node()
            lg = dt = None
        gv, gk = rng.choice(graphs)
        rows.append((sv, sk, pred, ov, ok, lg, dt, gv, gk))
    if zipf:
        b0, b1 = blanks
        for (s, sk), o in (((iris[0], IRI), b0), ((iris[1], IRI), b0),
                           ((b0, BLANK), b1), ((b1, BLANK), b0),
                           ((b1, BLANK), b1)):
            rows.append((s, sk, rng.choice(PREDS), o, BLANK,
                         None, None, None, None))
    members = rng.choice([iris[:1], iris[1:2], iris[:2]])
    return rows, members


@pytest.mark.parametrize("seed", range(5))
def test_three_engine_parity_random_corpus(spark, sink_extract, seed):
    _assert_parity(spark, sink_extract, seed, zipf=False)


@pytest.mark.parametrize("seed", range(5, 10))
def test_three_engine_parity_zipf_blank_cycles(spark, sink_extract, seed):
    _assert_parity(spark, sink_extract, seed, zipf=True)


def _assert_parity(spark, sink_extract, seed, zipf):
    rng = random.Random(1000 + seed)
    n_stores = 12
    rows, mem_rows, ignore = [], [], []
    for si in range(n_stores):
        srows, smembers = _random_store(rng, si, zipf)
        rows += [r + (f"s{si}",) for r in srows]
        mem_rows += [(m, f"s{si}") for m in smembers]
        if seed % 3 == 0:
            ignore.append(Term(IRI, f"http://x/{si}/G"))
    bulk = seed % 2 == 0

    if seed % 5 == 4:  # pure CBD — no shape at all
        sg = shape = None
    else:
        sg = ShapesGraph.from_quads(parse_trig(_shape_ttl(
            single_p=rng.random() < 0.7, alt_pq=rng.random() < 0.5,
            self_link=rng.random() < 0.7,
            chain_link=rng.random() < 0.5 and not zipf)))
        shape = Term(IRI, "http://x/S")

    tdf = spark.createDataFrame(
        [r for r in rows], schema=_QUAD_SCHEMA + ", store_key string")
    mdf = spark.createDataFrame(mem_rows, "entity string, store_key string")

    cols = ["entity", *QUAD_COLS]
    out = {}
    for vec in (True, False):
        df = sink_extract(
            tdf, mdf, shapes_graph=sg, shape=shape, bulk=bulk,
            graphs_to_ignore=ignore, vectorize=vec)
        out["vec" if vec else "interp"] = {
            tuple(r) for r in df.select(*cols).collect()}

    ex = BulkCBDShapeExtractor(spark, shapes_graph=sg)
    g, _ = ex.extract(
        tdf.drop("store_key"),
        [Term(IRI, m) for m, _ in mem_rows],
        shape=shape, graphs_to_ignore=ignore, bulk=bulk)
    out["global"] = {tuple(r) for r in g.select(*cols).collect()}

    assert out["vec"] == out["interp"], f"seed {seed}: vec != interpreter"
    assert out["global"] == out["interp"], f"seed {seed}: global != interpreter"
