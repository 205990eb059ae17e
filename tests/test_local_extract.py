"""Store-local engine (operators/local_extract.py): the same golden
fixtures as the global DataFrame engine, plus engine parity. Bucket-level
runs go through the sink-fused path (``sink_extract`` fixture)."""

import pytest
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import IRI, Term, quad_to_row
from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
from extract_cbd_shape_spark.operators.local_extract import extract_store
from extract_cbd_shape_spark.rdf import parse_trig
from extract_cbd_shape_spark.shapes import ShapesGraph

from conftest import load_fixture

EX = "http://example.org/"
SHSH = "http://www.w3.org/ns/shacl-shacl#"


def _quads(rel):
    return [quad_to_row(q) for q in parse_trig(load_fixture(rel))]


@pytest.fixture(scope="module")
def q03():
    return _quads("03 - CBD tests without a shape/data.ttl")


@pytest.mark.parametrize("entity,expected", [("A", 4), ("B", 8), ("C", 4)])
def test_local_cbd_counts(q03, entity, expected):
    rows = list(extract_store(q03, [(IRI, EX + entity)], None, None, bulk=False))
    assert len(rows) == expected


def test_local_shape_catalog():
    quads = _quads("01 - fetching a shacl shape/shacl-catalog.ttl")
    sg = ShapesGraph.from_quads(
        parse_trig(load_fixture("01 - fetching a shacl shape/shacl-shacl.ttl"))
    )
    shape = Term(IRI, SHSH + "NodeShapeShape")
    person = list(extract_store(quads, [(IRI, EX + "PersonShape")], sg, shape,
                                bulk=False))
    org = list(extract_store(quads, [(IRI, EX + "OrganizationShape")], sg,
                             shape, bulk=False))
    assert len(person) == 11
    assert len(org) == 16


@pytest.mark.parametrize(
    "entity,shape,expected",
    [
        ("B", "SequencePathShape", 3),
        ("C", "InversePathShape", 1),
        ("B", "DoubleInversePathShape", 1),
        ("C", "SequenceAndInversePathShape", 2),
        ("A", "ZeroOrMorePathShape", 2),
        ("B", "ZeroOrMorePathShape2", 3),
        ("A", "OneOrMorePathShape", 2),
        ("B", "AlternativePathShape", 2),
        ("B", "AllTogetherPathShape", 2),
    ],
)
def test_local_path_counts(entity, shape, expected):
    quads = _quads("05 - paths/data.ttl")
    sg = ShapesGraph.from_quads(parse_trig(load_fixture("05 - paths/shape.ttl")))
    rows = list(extract_store(quads, [(IRI, EX + entity)], sg,
                              Term(IRI, EX + shape), bulk=False))
    assert len(rows) == expected


@pytest.mark.parametrize(
    "entity,shape,expected",
    [
        ("Person1", "Shape", 7),
        ("Person2", "PersonShape", 7),
        ("Person3", "KnowsPieterShape", 4),
        ("Person4", "XoneWithNodeShape", 3),
        ("Person6", "CircularXoneShape", 7),
    ],
)
def test_local_logical_edge_cases(entity, shape, expected):
    data = parse_trig(load_fixture("04 - logical edge cases/data.ttl"))
    name = parse_trig(
        """
@prefix ex: <http://example.org/> .
<https://test.com/name.ttl> ex:name "Pieter" .
<https://test.com/name.ttl#Person1> ex:name "Peterson" .
""",
        base="https://test.com/name.ttl",
    )
    quads = [quad_to_row(q) for q in data + name]
    sg = ShapesGraph.from_quads(
        parse_trig(load_fixture("04 - logical edge cases/shape.ttl"))
    )
    rows = list(extract_store(quads, [(IRI, EX + entity)], sg,
                              Term(IRI, EX + shape), bulk=False))
    assert len(rows) == expected


def test_local_bulk_graph_isolation():
    quads = [quad_to_row(q) for q in parse_trig(
        """
@prefix ex: <http://example.org/> .
ex:M1 { ex:M1 ex:p "a" . }
ex:M2 { ex:M2 ex:p "b" . ex:M1 ex:q "leak" . }
"""
    )]
    rows = list(extract_store(quads, [(IRI, EX + "M1"), (IRI, EX + "M2")],
                              None, None, bulk=True))
    m1 = {(r[3]) for r in rows if r[0] == EX + "M1"}
    # M1 must NOT see its quad that lives in M2's named graph via CBD,
    # but named-graph pickup adds M1's own graph quads
    assert "a" in {r[4] for r in rows if r[0] == EX + "M1"}
    assert "leak" not in {r[4] for r in rows if r[0] == EX + "M1"}


def test_engine_parity_kbo(spark, sink_extract):
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_IRI, KBO_SHAPE_TTL, kbo_members)

    triples, members = kbo_members(spark, "/root/testdata/sf0.001")
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)

    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    g, _ = ex.extract(triples, members, shape=shape)
    gset = {tuple(r) for r in
            g.select("entity", "subject", "predicate", "object_value").collect()}

    t2 = triples.withColumn("store_key", F.split(F.col("subject"), ":")[1])
    m2 = members.withColumn("store_key", F.split(F.col("entity"), ":")[1])
    l = sink_extract(t2, m2, shapes_graph=shapes, shape=shape)
    lset = {tuple(r) for r in
            l.select("entity", "subject", "predicate", "object_value").collect()}
    assert gset == lset


# ---------------------------------------------------------------------------
# Vectorized bucket kernel parity (the single-hop fast path)
# ---------------------------------------------------------------------------

VEC_CORPUS = """
@prefix ex: <http://example.org/> .
ex:A ex:p ex:B ; ex:name "a" ; ex:addr _:a1 ; ex:link ex:Shared .
_:a1 ex:street "S1" ; ex:deep _:a2 .
_:a2 ex:zip "Z1" .
ex:B ex:name "b" ; ex:link ex:Shared .
ex:Shared ex:name "shared" ; ex:child _:s1 .
_:s1 ex:street "S9" .
ex:GA { ex:A ex:graphed "in-A-graph" . ex:B ex:other "in-A-graph-too" . }
ex:GB { ex:C ex:graphed "unrelated" . }
ex:A { ex:A ex:selfgraph "own graph quad" . }
ex:B { ex:A ex:leak "should not leak into A via CBD" . }
"""

VEC_SHAPE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:RootShape a sh:NodeShape ;
  sh:property [ sh:path <http://example.org/name> ; sh:minCount 1 ] ;
  sh:property [ sh:path <http://example.org/p> ; sh:node ex:RootShape ] ;
  sh:property [ sh:path <http://example.org/link> ; sh:node ex:LeafShape ] .
ex:LeafShape a sh:NodeShape ;
  sh:property [ sh:path <http://example.org/child> ; sh:minCount 1 ] .
"""


def _vec_vs_loop(spark, sink_extract, shape_ttl, shape_iri, bulk, ignore=()):
    quads = [quad_to_row(q) for q in parse_trig(VEC_CORPUS)]
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/A",), ("http://example.org/B",)], "entity string"
    ).withColumn("store_key", F.lit("s1"))
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl)) if shape_ttl else None
    shape = Term(IRI, shape_iri) if shape_iri else None
    kw = dict(shapes_graph=sg, shape=shape, bulk=bulk,
              graphs_to_ignore=ignore)
    vec = sink_extract(tdf, mem, vectorize=True, **kw)
    loop = sink_extract(tdf, mem, vectorize=False, **kw)
    vrows = {tuple(r) for r in vec.collect()}
    lrows = {tuple(r) for r in loop.collect()}
    assert vrows == lrows
    assert len(vrows) > 0
    return vrows


_QUAD_SCHEMA = (
    "subject string, subject_kind tinyint, predicate string, "
    "object_value string, object_kind tinyint, object_lang string, "
    "object_datatype string, graph string, graph_kind tinyint"
)


def test_vec_parity_cbd_only(spark, sink_extract):
    _vec_vs_loop(spark, sink_extract, None, None, bulk=False)


def test_vec_parity_bulk_isolation_and_pickup(spark, sink_extract):
    rows = _vec_vs_loop(spark, sink_extract, None, None, bulk=True)
    a = {r[4] for r in rows if r[0] == "http://example.org/A"}
    assert "own graph quad" in a          # named-graph pickup
    assert "should not leak into A via CBD" not in a  # bulk isolation


def test_vec_parity_shape_links(spark, sink_extract):
    for bulk in (False, True):
        _vec_vs_loop(spark, sink_extract, VEC_SHAPE,
                     "http://example.org/RootShape", bulk=bulk)


def test_vec_parity_graphs_to_ignore(spark, sink_extract):
    from extract_cbd_shape_spark.model import Term as T
    rows = _vec_vs_loop(
        spark, sink_extract, None, None, bulk=False,
        ignore=(T(IRI, "http://example.org/GA"),))
    a = {r[4] for r in rows if r[0] == "http://example.org/A"}
    assert "in-A-graph" not in a


def test_vec_gate_accepts_chains_rejects_multipath():
    from extract_cbd_shape_spark.operators.local_extract import (
        compile_single_hop_links)
    sg = ShapesGraph.from_quads(parse_trig(load_fixture("05 - paths/shape.ttl")))
    # forward sequences vectorize (r3: chained CSR gathers)
    seq = compile_single_hop_links(sg, Term(IRI, EX + "SequencePathShape"))
    assert seq is not None and len(seq[1]) > 0  # a multi-hop match chain
    # non-closed forward alternative vectorizes
    alt_sg = ShapesGraph.from_quads(parse_trig("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:AltShape a sh:NodeShape ;
      sh:property [ sh:path [ sh:alternativePath (ex:p1 ex:p2) ] ;
                    sh:minCount 1 ] .
    """))
    assert compile_single_hop_links(alt_sg, Term(IRI, EX + "AltShape")) \
        is not None
    # r3 second pass: closed shapes + inverse hops vectorize too
    alt = compile_single_hop_links(sg, Term(IRI, EX + "AlternativePathShape"))
    assert alt is not None and len(alt[4]) == 1  # closed key set
    inv = compile_single_hop_links(sg, Term(IRI, EX + "InversePathShape"))
    assert inv is not None and inv[1][0][1][0][1] is True  # inverse hop
    assert compile_single_hop_links(
        sg, Term(IRI, EX + "SequenceAndInversePathShape")) is not None
    # double inverse cancels to a forward hop (closed shape -> emit0)
    dbl = compile_single_hop_links(sg, Term(IRI, EX + "DoubleInversePathShape"))
    assert dbl is not None and dbl[1][0][1][0][1] is False
    # r3 third pass: multipaths vectorize (multi-source BFS); closed
    # fixture shapes produce mp_match segment variants
    zom = compile_single_hop_links(sg, Term(IRI, EX + "ZeroOrMorePathShape"))
    assert zom is not None and len(zom[5]) == 1  # one mp_match variant
    oom = compile_single_hop_links(sg, Term(IRI, EX + "OneOrMorePathShape"))
    assert oom is not None and oom[5][0][1][0][0] == "multi"
    # a multipath EMBEDDED in an open shape's match path keeps the
    # per-member interpreter (fold-dependent found() semantics)
    open_embed = ShapesGraph.from_quads(parse_trig("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:E a sh:NodeShape ;
      sh:property [ sh:path (ex:p1 [ sh:zeroOrMorePath ex:p2 ]) ] .
    """))
    assert compile_single_hop_links(open_embed, Term(IRI, EX + "E")) is None


def test_vec_gate_rejects_literal_focus_inverse_first_child():
    """A nodeLink whose (forward) targets may be literals, linking to a
    shape with an inverse-FIRST chain: the interpreter matches from the
    literal focus by full identity; the kernel drops literal wave
    nodes, so the gate must send this to the interpreter."""
    from extract_cbd_shape_spark.operators.local_extract import (
        compile_single_hop_links)
    sg = ShapesGraph.from_quads(parse_trig("""
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:Root a sh:NodeShape ;
      sh:property [ sh:path ex:tag ; sh:node ex:TagShape ] .
    ex:TagShape a sh:NodeShape ;
      sh:property [ sh:path [ sh:inversePath ex:tag ] ; sh:minCount 1 ] .
    """))
    assert compile_single_hop_links(sg, Term(IRI, EX + "Root")) is None


@pytest.mark.parametrize("shape,entity", [
    ("SequencePathShape", "B"),
    ("AlternativePathShape", "B"),
    ("AllTogetherPathShape", "B"),
    # r3 second pass: inverse hops (object-sorted CSR) + closed shapes
    ("InversePathShape", "C"),
    ("DoubleInversePathShape", "B"),
    ("SequenceAndInversePathShape", "C"),
    # r3 third pass: multipaths (multi-source BFS) on the closed
    # fixture shapes, incl. multipaths embedded in sequences
    ("ZeroOrMorePathShape", "A"),
    ("ZeroOrMorePathShape", "B"),
    ("OneOrMorePathShape", "A"),
    ("ZeroOrOnePathShape", "A"),
    ("ZeroOrMorePathShape2", "A"),
    ("ZeroOrMorePathShape2", "B"),
])
def test_vec_parity_forward_sequence_alternative(spark, sink_extract, shape, entity):
    """r3 kernel extension: forward sequences/alternatives run as
    chained CSR gathers — parity with the interpreter on the
    reference's own path fixtures (tests/05)."""
    quads = _quads("05 - paths/data.ttl")
    sg = ShapesGraph.from_quads(parse_trig(load_fixture("05 - paths/shape.ttl")))
    from extract_cbd_shape_spark.operators.local_extract import (
        compile_single_hop_links)
    if compile_single_hop_links(sg, Term(IRI, EX + shape)) is None:
        pytest.skip("shape not vectorizable")
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame([(EX + entity,)], "entity string").withColumn(
        "store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + shape), bulk=False)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop and len(vec) > 0


def test_vec_parity_multihop_nodelink(spark, sink_extract):
    """A 2-hop sequence nodeLink: the intermediate hop is an IRI the
    CBD star never reaches — witnesses for the match chain and the
    linked shape's extraction must both appear, vec == interpreter."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:RootShape a sh:NodeShape ;
      sh:property [ sh:path (ex:via ex:to) ; sh:node ex:LeafShape ;
                    sh:minCount 1 ] .
    ex:LeafShape a sh:NodeShape ;
      sh:property [ sh:path ex:val ; sh:minCount 1 ] .
    """
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M ex:via ex:Mid ; ex:own "root star" .
ex:Mid ex:to ex:Leaf ; ex:noise "never extracted" .
ex:Leaf ex:val "leaf star" ; ex:other "leaf star 2" .
"""
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/M",)], "entity string").withColumn(
        "store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "RootShape"),
              bulk=False)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    vals = {r[4] for r in vec}
    # root star (2) + hop-2 witness (Mid->Leaf) + leaf star (2);
    # Mid's own star is NOT extracted (intermediates get no CBD)
    assert "root star" in vals and "leaf star" in vals
    assert any(r[3] == EX + "to" for r in vec)  # the hop-2 witness quad
    assert "never extracted" not in vals
    # M star (2) + Mid->Leaf witness (1) + Leaf star (2)
    assert len(vec) == 5


def test_vec_parity_alternative_chain_link(spark, sink_extract):
    """Non-closed forward alternative, both as a match path and as a
    nodeLink pattern ((a|b)/c link): vec == interpreter, and targets
    reached through EITHER branch are claimed and extracted."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:RootShape a sh:NodeShape ;
      sh:property [ sh:path [ sh:alternativePath (ex:a ex:b) ] ;
                    sh:minCount 1 ] ;
      sh:property [ sh:path ([ sh:alternativePath (ex:a ex:b) ] ex:c) ;
                    sh:node ex:LeafShape ] .
    ex:LeafShape a sh:NodeShape ;
      sh:property [ sh:path ex:val ; sh:minCount 1 ] .
    """
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M ex:a ex:X ; ex:b ex:Y .
ex:X ex:c ex:L1 .
ex:Y ex:c ex:L2 .
ex:L1 ex:val "v1" .
ex:L2 ex:val "v2" .
"""
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/M",)], "entity string").withColumn(
        "store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "RootShape"),
              bulk=False)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    vals = {r[4] for r in vec}
    assert {"v1", "v2"} <= vals  # both branches' leaves extracted
    # M star (2) + X->L1, Y->L2 hop-2 witnesses (2) + L1/L2 stars (2)
    assert len(vec) == 6


def test_vec_parity_inverse_chain_link(spark, sink_extract):
    """Inverse nodeLink (^ptr -> child shape): targets come from the
    object-sorted CSR and the linked shape extracts at the SUBJECT of
    the incoming quad; the inverse match witness is emitted even at
    hop 0 (never part of the focus star). vec == interpreter."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:RootShape a sh:NodeShape ;
      sh:property [ sh:path [ sh:inversePath ex:ptr ] ; sh:minCount 1 ;
                    sh:node ex:SrcShape ] .
    ex:SrcShape a sh:NodeShape ;
      sh:property [ sh:path ex:val ; sh:minCount 1 ] .
    """
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M ex:own "root star" .
ex:In1 ex:ptr ex:M ; ex:val "src star" .
ex:In2 ex:ptr ex:M .
ex:Other ex:ptr ex:Unrelated .
"""
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/M",)], "entity string").withColumn(
        "store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "RootShape"),
              bulk=False)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    vals = {r[4] for r in vec}
    assert "root star" in vals          # M's CBD
    assert "src star" in vals           # linked shape extracted at In1
    assert EX + "Unrelated" not in vals  # unrelated incoming edge
    # M star (1) + 2 inverse witnesses + In1 star (ptr already a
    # witness; + val) = 1 + 2 + 1
    assert len(vec) == 4


def test_vec_inverse_literal_identity(spark, sink_extract):
    """A forward-then-inverse chain through a LITERAL focus matches by
    full literal identity (value, lang, datatype) — lib/Utils.ts:85-92:
    "lit" must not match "lit"@en. vec == interpreter."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:RootShape a sh:NodeShape ;
      sh:property [ sh:path (ex:p [ sh:inversePath ex:q ]) ;
                    sh:minCount 1 ] .
    """
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M ex:p "lit" .
ex:X ex:q "lit" .
ex:Y ex:q "lit"@en .
"""
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/M",)], "entity string").withColumn(
        "store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "RootShape"),
              bulk=False)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    subs = {r[1] for r in vec}
    assert EX + "X" in subs      # plain "lit" matches
    assert EX + "Y" not in subs  # "lit"@en does NOT
    assert len(vec) == 2         # M's star + X's inverse witness


def test_vec_parity_bulk_isolation_through_inverse(spark, sink_extract):
    """Bulk member isolation applies to inverse hops too: an incoming
    edge stored in ANOTHER member's named graph must not be matched
    (lib/CBDShapeExtractor.ts:95-99 via Path.ts:66)."""
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M1 ex:own "m1" .
ex:M2 ex:own "m2" .
ex:In1 ex:ptr ex:M1 .
ex:M2 { ex:In2 ex:ptr ex:M1 . }
"""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:InvShape a sh:NodeShape ;
      sh:property [ sh:path [ sh:inversePath ex:ptr ] ] .
    """
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/M1",), ("http://example.org/M2",)],
        "entity string").withColumn("store_key", F.lit("s1"))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "InvShape"),
              bulk=True)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    m1_subs = {r[1] for r in vec if r[0] == EX + "M1"}
    assert EX + "In1" in m1_subs      # default-graph incoming edge
    assert EX + "In2" not in m1_subs  # lives in M2's named graph


def test_vec_parity_shaped_cbd_default_graph(spark, sink_extract):
    """cbd_default_graph narrows ONLY the CBD star, not path matching
    (reference: extractCbdDefaultGraph guards the star lookup,
    lib/CBDShapeExtractor.ts:479). A match-path witness living in a
    named graph must survive — the vectorized plan is gated off for
    shaped + cbd_default_graph (ADVICE r2, high) so both engines agree."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:NameShape a sh:NodeShape ;
      sh:property [ sh:path ex:name ; sh:minCount 1 ] .
    """
    quads = [quad_to_row(q) for q in parse_trig(
        """
@prefix ex: <http://example.org/> .
ex:A ex:other "default graph quad" .
ex:G { ex:A ex:name "named graph witness" . }
"""
    )]
    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA).withColumn(
        "store_key", F.lit("s1"))
    mem = spark.createDataFrame(
        [("http://example.org/A",)], "entity string"
    ).withColumn("store_key", F.lit("s1"))
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    kw = dict(shapes_graph=sg, shape=Term(IRI, EX + "NameShape"),
              bulk=False, cbd_default_graph=True)
    vec = {tuple(r) for r in
           sink_extract(tdf, mem, vectorize=True, **kw).collect()}
    loop = {tuple(r) for r in
            sink_extract(tdf, mem, vectorize=False, **kw).collect()}
    assert vec == loop
    assert len(vec) == 2  # star quad + named-graph path witness
    assert "named graph witness" in {r[4] for r in vec}


def test_bfs_claim_contract_vec_matches_global(spark, sink_extract):
    """Bulk-engine claim contract (ADVICE r2, medium): when a node is
    reachable through nodeLinks to DIFFERENT shapes at different depths,
    both bulk engines (vectorized kernel, global fixpoint) claim the
    shallower shape (BFS wave + link order); the per-member interpreter
    follows the reference's DFS first-visit order and may claim the
    deeper one. This test pins the divergence class: vec == global, and
    the fixture exercises the divergent case (X reachable at depth 1 via
    a childless shape and at depth 2 via a shape with children)."""
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:RootShape a sh:NodeShape ;
      sh:property [ sh:path ex:pc ; sh:node ex:MidShape ] ;
      sh:property [ sh:path ex:pb ; sh:node ex:BShape ] .
    ex:MidShape a sh:NodeShape ;
      sh:property [ sh:path ex:pm ; sh:node ex:CShape ] .
    ex:BShape a sh:NodeShape ;
      sh:property [ sh:path ex:name ; sh:minCount 0 ] .
    ex:CShape a sh:NodeShape ;
      sh:property [ sh:path ex:deep ; sh:node ex:DShape ] .
    ex:DShape a sh:NodeShape ;
      sh:property [ sh:path ex:v ; sh:minCount 0 ] .
    """
    data_ttl = """
@prefix ex: <http://example.org/> .
ex:M ex:pc ex:Y ; ex:pb ex:X .
ex:Y ex:pm ex:X .
ex:X ex:deep ex:Z .
ex:Z ex:v "only reached when X is claimed by CShape" .
"""
    quads = [quad_to_row(q) for q in parse_trig(data_ttl)]
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    shape = Term(IRI, EX + "RootShape")
    cols = ["entity", "subject", "predicate", "object_value"]

    tdf = spark.createDataFrame(quads, schema=_QUAD_SCHEMA)
    mem = spark.createDataFrame([("http://example.org/M",)], "entity string")
    ex_g = BulkCBDShapeExtractor(spark, shapes_graph=sg)
    g, _ = ex_g.extract(tdf, mem, shape=shape)
    gset = {tuple(r) for r in g.select(*cols).collect()}

    t2 = tdf.withColumn("store_key", F.lit("s1"))
    m2 = mem.withColumn("store_key", F.lit("s1"))
    vec = sink_extract(t2, m2, shapes_graph=sg, shape=shape,
                       vectorize=True)
    vset = {tuple(r) for r in vec.select(*cols).collect()}
    assert vset == gset
    # BFS claim: X=BShape at depth 1, so Z is never reached
    assert not any(r[1] == EX + "Z" for r in vset)
    assert len(vset) == 4

    # the interpreter's DFS claims X=CShape (pc link comes first) and
    # DOES reach Z — the documented divergence
    interp = {tuple(r) for r in
              sink_extract(t2, m2, shapes_graph=sg, shape=shape,
                           vectorize=False)
              .select(*cols).collect()}
    assert any(r[1] == EX + "Z" for r in interp)
    assert len(interp) == 5


def test_prebucketed_store_parity(spark, sink_extract, tmp_path):
    """materialize_store + the sink-fused kernel must equal the
    per-member interpreter, both with marker members and with members
    derived from IRI subjects; the physical plan must contain no
    Exchange."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_IRI, KBO_SHAPE_TTL, kbo_members)
    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store, materialize_store)
    from extract_cbd_shape_spark.sinks.materialize import (
        latest_snapshot_path, materialize_table)

    triples, members = kbo_members(spark, "/root/testdata/sf0.001")
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)
    t2 = triples.withColumn("store_key", F.split(F.col("subject"), ":")[1])
    m2 = members.withColumn("store_key", F.split(F.col("entity"), ":")[1])
    cols = ["entity", "subject", "predicate", "object_value"]

    base = sink_extract(t2, m2, shapes_graph=shapes, shape=shape,
                        vectorize=False)
    bset = {tuple(r) for r in base.select(*cols).collect()}

    store = materialize_store(t2, m2, str(tmp_path / "store"))
    manifest = extract_store_files_to_store(
        spark, store, str(tmp_path / "out"), shapes_graph=shapes,
        shape=shape)
    assert "Exchange" not in (
        manifest._jdf.queryExecution().executedPlan().toString())
    manifest.collect()
    pset = {tuple(r) for r in
            spark.read.parquet(str(tmp_path / "out")).select(*cols).collect()}
    assert pset == bset and len(pset) > 0

    # quads-only store bucketed like the pipeline's raw_triples; members
    # derived per store from IRI subjects (KBO subjects are exactly the
    # member IRIs + address blanks)
    materialize_table(t2, str(tmp_path / "quads"), "quads",
                      bucket_by="store_key")
    extract_store_files_to_store(
        spark, latest_snapshot_path(str(tmp_path / "quads")),
        str(tmp_path / "out2"), shapes_graph=shapes, shape=shape,
        members_from_subjects=True).collect()
    p2set = {tuple(r) for r in spark.read.parquet(
        str(tmp_path / "out2")).select(*cols).collect()}
    assert p2set == bset


def test_duplicated_store_dedup_parity(spark, sink_extract):
    """Reference uniqueQuads (lib/Utils.ts:44-64): a duplicated store
    quad appears ONCE per extraction. The vectorized kernel must match
    the interpreter on a corpus with duplicate rows; store_distinct=True
    is the caller contract that skips the dedup pass."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_IRI, KBO_SHAPE_TTL, kbo_members)

    triples, members = kbo_members(spark, "/root/testdata/sf0.001")
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)
    t2 = triples.withColumn("store_key", F.split(F.col("subject"), ":")[1])
    m2 = members.withColumn("store_key", F.split(F.col("entity"), ":")[1])
    dup = t2.unionByName(t2.limit(500))  # duplicate a slice of quads

    cols = ["entity", "subject", "predicate", "object_value"]
    interp = sink_extract(
        dup, m2, shapes_graph=shapes, shape=shape, vectorize=False)
    iset = sorted(tuple(r) for r in interp.select(*cols).collect())
    assert len(iset) == len(set(iset)), "interpreter emits unique quads"

    vec = sink_extract(dup, m2, shapes_graph=shapes, shape=shape)
    vset = sorted(tuple(r) for r in vec.select(*cols).collect())
    assert vset == iset

    # distinct input + store_distinct=True: same result, dedup skipped
    fast = sink_extract(
        t2, m2, shapes_graph=shapes, shape=shape, store_distinct=True)
    assert sorted(tuple(r) for r in fast.select(*cols).collect()) == iset


def test_file_scan_and_sink_fused_parity(spark, sink_extract, tmp_path):
    """The sink-fused kernel's lineage manifest: one row per bucket file
    whose row counts sum to the landed result, and a re-run (simulated
    task retry) over the same output dir is idempotent."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_IRI, KBO_SHAPE_TTL, kbo_members)
    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store, materialize_store)
    from extract_cbd_shape_spark.sinks.materialize import data_files

    triples, members = kbo_members(spark, "/root/testdata/sf0.001")
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    shape = Term(IRI, KBO_SHAPE_IRI)
    t2 = triples.withColumn("store_key", F.split(F.col("subject"), ":")[1])
    m2 = members.withColumn("store_key", F.split(F.col("entity"), ":")[1])
    cols = ["entity", "subject", "predicate", "object_value"]

    store_path = materialize_store(t2, m2, str(tmp_path / "store"))
    out = str(tmp_path / "extracted")
    first = None
    for _ in range(2):
        rows = extract_store_files_to_store(
            spark, store_path, out, shapes_graph=shapes, shape=shape,
        ).collect()
        assert len(rows) == len(data_files(store_path))
        landed = spark.read.parquet(out)
        assert sum(r["rows"] for r in rows) == landed.count()
        got = {tuple(r) for r in landed.select(*cols).collect()}
        assert got and (first is None or got == first)
        first = got


def test_sink_runs_one_task_per_bucket_file(spark, tmp_path):
    """A store with more bucket files than cores: the sink runs one task
    per file over a JVM source (no Exchange, no Python-RDD scan) and
    returns one lineage row per source file. The file list reaches the
    tasks through a broadcast, so the pickled kernel command does not
    grow with the number of files."""
    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store)
    from extract_cbd_shape_spark.sinks.materialize import (
        data_files, latest_snapshot_path, materialize_table)

    # 500 stores of 6 quads each: every one of 12 buckets is non-empty
    store = (F.col("id") % 500).cast("string")
    t2 = spark.range(3000).select(
        F.concat(F.lit("http://x/e"), store).alias("subject"),
        F.lit(0).cast("tinyint").alias("subject_kind"),
        F.lit("http://x/p").alias("predicate"),
        F.col("id").cast("string").alias("object_value"),
        F.lit(2).cast("tinyint").alias("object_kind"),
        *[F.lit(None).cast(t).alias(c) for c, t in (
            ("object_lang", "string"), ("object_datatype", "string"),
            ("graph", "string"), ("graph_kind", "tinyint"))],
        store.alias("store_key"))
    sc = spark.sparkContext

    def run(tag, n_buckets):
        materialize_table(t2, str(tmp_path / f"q{tag}"), "quads",
                          bucket_by="store_key", n_buckets=n_buckets)
        store = latest_snapshot_path(str(tmp_path / f"q{tag}"))
        df = extract_store_files_to_store(
            spark, store, str(tmp_path / f"o{tag}"),
            members_from_subjects=True)
        plan = df._jdf.queryExecution().executedPlan().toString()
        command = (df._jdf.queryExecution().analyzed().functionExpr()
                   .func().command().length())
        sc.setJobGroup(tag, tag)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        tasks = sum(st.getStageInfo(s).numTasks
                    for j in st.getJobIdsForGroup(tag)
                    for s in st.getJobInfo(j).stageIds)
        landed = spark.read.parquet(str(tmp_path / f"o{tag}")).count()
        return data_files(store), rows, plan, command, tasks, landed

    files, rows, plan, command, tasks, landed = run("a", 12)
    assert len(files) > sc.defaultParallelism
    assert tasks == len(files)
    assert "Exchange" not in plan and "Scan ExistingRDD" not in plan
    assert sorted(r["src"] for r in rows) == files
    assert sum(r["rows"] for r in rows) == landed == 3000

    few, _rows, _plan, few_command, _tasks, few_landed = run("b", 2)
    assert len(few) < len(files) and few_landed == landed
    assert abs(command - few_command) < 64


def test_deep_nodelink_chain_no_recursion_error():
    """A nodeLink chain far deeper than CPython's recursion limit must
    extract completely (ADVICE r2: extract_recursively was recursive
    Python; now a generator trampoline)."""
    n = 5000
    shape_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:ChainShape a sh:NodeShape ;
      sh:property [ sh:path ex:next ; sh:node ex:ChainShape ] .
    """
    sg = ShapesGraph.from_quads(parse_trig(shape_ttl))
    quads = [
        (EX + f"n{i}", IRI, EX + "next", EX + f"n{i+1}", IRI,
         None, None, None, None)
        for i in range(n)
    ]
    rows = list(extract_store(
        quads, [(IRI, EX + "n0")], sg, Term(IRI, EX + "ChainShape")))
    assert len(rows) == n


def test_vec_deep_chain_linear_growth():
    """Deep blank-chain closure in the CSR kernel must scale ~linearly
    in depth (VERDICT r2 #8: the visited set is a sorted-insert
    structure now, not a per-wave np.isin re-sort — quadratic would be
    16x from 2k to 8k; allow generous noise margin)."""
    import time

    import pandas as pd

    from extract_cbd_shape_spark.model import BLANK
    from extract_cbd_shape_spark.operators.local_extract import (
        OUT_COLS, _vec_extract_bucket)

    def run(depth):
        rows = [("http://x/M", IRI, "http://x/next", "b0", BLANK,
                 None, None, None, None, "s1")]
        rows += [(f"b{i}", BLANK, "http://x/next", f"b{i+1}", BLANK,
                  None, None, None, None, "s1") for i in range(depth - 1)]
        tpdf = pd.DataFrame(rows, columns=[
            "subject", "subject_kind", "predicate", "object_value",
            "object_kind", "object_lang", "object_datatype", "graph",
            "graph_kind", "store_key"])
        mpdf = pd.DataFrame({"_m_store": ["s1"],
                             "_m_entity": ["http://x/M"], "_m_kind": [IRI]})
        t0 = time.time()
        out = _vec_extract_bucket(tpdf, mpdf, "store_key",
                                  ([], [], [], None, frozenset(), [], []),
                                  False, False, set(), OUT_COLS)
        assert len(out) == depth
        return time.time() - t0

    run(500)  # warm numpy/pandas paths
    t2k, t8k = run(2000), run(8000)
    assert t8k < t2k * 10  # linear is ~4x; quadratic ~16x


def test_vec_cross_store_isolation_same_bucket(spark, tmp_path):
    """Two stores in ONE kernel bucket sharing node names (same blank
    label, same downstream IRI) must not leak quads across stores (the
    CSR kernel keys nodes by (store, value, kind)); vectorized ==
    interpreter on both the default and cbd_default_graph traversals."""
    import pyarrow.parquet as pq

    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store, materialize_store)
    from extract_cbd_shape_spark.sinks.materialize import (
        data_files, latest_manifest)

    def frames(sa, sb):
        rows = []
        for store, member in ((sa, "http://x/A1"), (sb, "http://x/A2")):
            rows += [
                (member, 0, "http://x/child", "b0", 1,
                 None, None, None, None, store),
                # same blank label b0 in BOTH stores, different payloads
                ("b0", 1, "http://x/street", f"st-{store}", 2,
                 None, None, None, None, store),
                # same downstream IRI subject in both stores
                (member, 0, "http://x/link", "http://x/shared", 0,
                 None, None, None, None, store),
                # a named-graph quad: dropped under cbd_default_graph
                (member, 0, "http://x/extra", f"x-{store}", 2,
                 None, None, "http://x/G", 0, store),
            ]
        tdf = spark.createDataFrame(
            rows, _QUAD_SCHEMA + ", store_key string")
        mem = spark.createDataFrame(
            [("http://x/A1", sa), ("http://x/A2", sb)],
            "entity string, store_key string")
        return tdf, mem

    # The bucket count is sized by the data: read it from a first
    # snapshot, then pick two store names that collide under it.
    materialize_store(*frames("s3", "s5"), str(tmp_path / "probe"))
    n = latest_manifest(str(tmp_path / "probe"))["n_buckets"]
    names = [f"s{i}" for i in range(64)]
    by_bucket = {}
    for k, b in spark.createDataFrame([(k,) for k in names], "k string").select(
            "k", F.pmod(F.xxhash64("k"), F.lit(n))).collect():
        by_bucket.setdefault(b, []).append(k)
    sa, sb = next(ks for ks in by_bucket.values() if len(ks) > 1)[:2]

    path = str(tmp_path / "store")
    store = materialize_store(*frames(sa, sb), path)
    assert latest_manifest(path)["n_buckets"] == n
    # both stores really share one bucket file
    assert any({sa, sb} <= set(pq.read_table(f, columns=["store_key"])
                               .column(0).to_pylist())
               for f in data_files(store))

    def extract(tag, **kw):
        out = str(tmp_path / tag)
        extract_store_files_to_store(spark, store, out, **kw).collect()
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    for cbd_dg in (False, True):
        kw = dict(bulk=False, cbd_default_graph=cbd_dg)
        vec = extract(f"vec{cbd_dg}", vectorize=True, **kw)
        loop = extract(f"loop{cbd_dg}", vectorize=False, **kw)
        assert vec == loop
        # A1 reaches b0 via blank closure: must see ONLY its store's street
        a1_streets = {r[4] for r in vec
                      if r[0] == "http://x/A1" and r[3] == "http://x/street"}
        assert a1_streets == {f"st-{sa}"}
        a2_streets = {r[4] for r in vec
                      if r[0] == "http://x/A2" and r[3] == "http://x/street"}
        assert a2_streets == {f"st-{sb}"}
        n_graph_quads = sum(1 for r in vec if r[3] == "http://x/extra")
        assert n_graph_quads == (0 if cbd_dg else 2)
