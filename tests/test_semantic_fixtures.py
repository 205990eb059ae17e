"""Paper semantics on hand-written fixtures (tests/fixtures/semantics),
checked on every engine: the per-member interpreter (``extract_store``),
the sink-fused store-local path with the CSR kernel and with the
interpreter, and the global fixpoint engine (``BulkCBDShapeExtractor``).

Every expected quad set below is written by hand from the CBD and
named-graph rules, never produced by an engine:

* CBD(n) = every quad with subject n, in any graph the run admits, plus
  CBD(b) for every blank object b (visited nodes are not re-entered,
  so blank cycles terminate). IRI objects are not expanded.
* Named-graph pickup: every quad in the graph named after the member is
  added, with no graph filter.
* A graph is not admitted to a CBD when it is in graphs_to_ignore, or,
  in a bulk run, when it is another member's named graph.

Cases with ``shapes`` extract their members under the shape ``shape``,
by the shape rules of SURVEY.md §2:

* A focus node of an open shape gets its CBD; a focus node of a closed
  shape gets none (O15), only the witness quads of its property paths.
* A path's witness quads are the quads it traverses from the focus
  (O7-O11, paths parsed as O19): a sequence chains its steps, an
  inverse step follows a quad from object to subject, ``p*`` walks
  ``p`` breadth-first from the focus (zero hops admit the focus) and
  does not expand a node it has already reached. ``p+`` walks the
  same way but admits only nodes reached in one or more hops (the
  focus only when a cycle leads back to it); ``p?`` admits the focus
  and the nodes one hop away, and stops. An alternative takes the
  union of its branches. In an open shape a path already witnessed by
  the CBD is not matched again, and ``p*`` always counts as witnessed
  (zero hops suffice).
* Paths in ``sh:xone`` / ``sh:or`` branches, at any nesting depth, are
  matched unconditionally: extraction is not validation (O16).
* An ``sh:node`` link extracts every target of its path under the
  linked shape, whether or not the path's quads were added; each node
  is extracted once per member (O13).
* Out of band (O17): a node a member reaches whose required path has no
  quads is flagged ``needs_dereference`` if it is an IRI; it is not
  fetched. A resolver that answers for the node adds its quads to the
  store before the member is extracted again.

Quads are compared as (entity, subject, predicate, object_value, graph);
blank labels are the TriG labels without ``_:``, the default graph is
None.
"""

import os

import pytest

from extract_cbd_shape_spark.model import IRI, QUAD_COLS, Term, quad_to_row
from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
from extract_cbd_shape_spark.operators.local_extract import extract_store
from extract_cbd_shape_spark.rdf import parse_trig
from extract_cbd_shape_spark.shapes import ShapesGraph

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "semantics")
EX = "http://example.org/"


def _ex(*names):
    return tuple(EX + n for n in names)


A, B, M, X, G, M1, M2, IGN, KEEP = _ex(
    "A", "B", "M", "X", "G", "M1", "M2", "Ign", "Keep")
NAME, ADDR, KNOWS, STREET, GEO, LAT, BACK, SELF, NEXT = _ex(
    "name", "addr", "knows", "street", "geo", "lat", "back", "self", "next")
P, Q, R, S, V, W, OWN, LEAK = _ex("p", "q", "r", "s", "v", "w", "own", "leak")
F, NX, NS, T, U, N1, N2, N3, OUT, LINK = _ex(
    "F", "X", "S", "T", "U", "N1", "N2", "N3", "Out", "link")
ROOT, C1, C2, D1, D2, Q1, END_P, END_N, END_Q = _ex(
    "Root", "C1", "C2", "D1", "D2", "Q1", "endP", "endN", "endQ")
CH, L, PA, PB, PC = _ex("Ch", "L", "a", "b", "c")
ANN, BOB, CY, DEE = _ex("Ann", "Bob", "Cy", "Dee")
D, AUTH, TITLE, AUTHOR, BORN = _ex("D", "Auth", "title", "author", "born")

SHAPES_PREFIXES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
"""


CASES = {
    "cbd_blank_closure": dict(
        members=[A, B], bulk=False, ignore=(),
        expected={
            # A's star (3 quads); ex:B is an IRI object, so B's star is
            # not part of A's CBD. _:a1 is a blank object: its star (2)
            # joins; _:a2 likewise (2). _:a2 ex:back _:a1 closes a
            # cycle: _:a1 is already visited, so the walk stops. The
            # incoming _:orphan ex:about ex:A is not an outgoing quad.
            A: {(A, NAME, "A", None), (A, ADDR, "a1", None),
                (A, KNOWS, B, None),
                ("a1", STREET, "Main", None), ("a1", GEO, "a2", None),
                ("a2", LAT, "51", None), ("a2", BACK, "a1", None)},
            # B's star (2) plus the self-looping blank _:c1 (1), entered
            # once.
            B: {(B, NAME, "B", None), (B, SELF, "c1", None),
                ("c1", NEXT, "c1", None)},
        }),
    "named_graph_pickup": dict(
        members=[M], bulk=False, ignore=(),
        expected={
            # CBD(M): M's quads in the default graph and in ex:G (CBD
            # spans graphs). Pickup: both quads of graph ex:M, whatever
            # their subject. ex:X's default-graph quad is in neither.
            M: {(M, P, "m-default", None), (M, Q, "m-in-G", G),
                (X, R, "x-in-M", M), ("b", S, "blank-in-M", M)},
        }),
    "bulk_isolation": dict(
        members=[M1, M2], bulk=True, ignore=(),
        expected={
            # CBD(M1) admits the default graph and M1's own graph; the
            # ex:leak quad sits in M2's graph, another member's, so it
            # is skipped. Pickup of graph ex:M1 adds nothing new.
            M1: {(M1, P, "m1", None), (M1, OWN, "m1-own-graph", M1)},
            # CBD(M2) = its two quads; pickup of graph ex:M2 adds the
            # ex:leak quad (pickup has no graph filter).
            M2: {(M2, P, "m2", None), (M2, OWN, "m2-own-graph", M2),
                 (M1, LEAK, "m1-in-m2-graph", M2)},
        }),
    "bulk_off_no_isolation": dict(
        fixture="bulk_isolation", members=[M1, M2], bulk=False, ignore=(),
        expected={
            # Without bulk no graph is another member's: CBD(M1) now
            # takes the ex:leak quad from graph ex:M2 as well.
            M1: {(M1, P, "m1", None), (M1, OWN, "m1-own-graph", M1),
                 (M1, LEAK, "m1-in-m2-graph", M2)},
            M2: {(M2, P, "m2", None), (M2, OWN, "m2-own-graph", M2),
                 (M1, LEAK, "m1-in-m2-graph", M2)},
        }),
    "graphs_to_ignore": dict(
        members=[A], bulk=False, ignore=(IGN,),
        expected={
            # CBD(A): the default-graph quad and the ex:Keep quad; the
            # ex:Ign quad is ignored. Blank closure into _:k takes its
            # default-graph quad but not its ex:Ign quad. Pickup adds
            # graph ex:A's quad.
            A: {(A, P, "default", None), (A, S, "k", KEEP),
                ("k", V, "k-default", None), (A, OWN, "pickup", A)},
        }),
    "closed_shape_nodelink": dict(
        members=[F], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Closed a sh:NodeShape ;
    sh:closed true ;
    sh:property [ sh:path ( ex:p ex:q ) ] ,
                [ sh:path [ sh:inversePath ex:r ] ] ,
                [ sh:path ex:link ; sh:node ex:Open ] .
ex:Open a sh:NodeShape ;
    sh:property [ sh:path ex:name ] .
""",
        shape=EX + "Closed",
        expected={
            # ex:Closed is closed: no CBD of ex:F, so ex:F ex:name "F"
            # is out. (ex:p ex:q): step ex:p reaches ex:X and _:pb (2
            # quads), step ex:q from each adds one quad; the other
            # quads of ex:X and _:pb are not on the path.
            # ^ex:r: the one quad with object ex:F and predicate ex:r;
            # ex:S's name is out. ex:link: its quad, and its target
            # ex:T is extracted under the open ex:Open: CBD(ex:T) (3)
            # plus the blank closure _:t1 (2) and _:t2 (1). ex:U is an
            # IRI object, not expanded. ex:Open's ex:name path is
            # already witnessed by CBD(ex:T). No graph is named ex:F.
            F: {(F, P, NX, None), (F, P, "pb", None),
                (NX, Q, "xq", None), ("pb", Q, "bq", None),
                (NS, R, F, None),
                (F, LINK, T, None),
                (T, NAME, "T", None), (T, ADDR, "t1", None),
                (T, KNOWS, U, None),
                ("t1", STREET, "Main", None), ("t1", GEO, "t2", None),
                ("t2", LAT, "51", None)},
        }),
    "zero_or_more_cycle": dict(
        members=[N1], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Chain a sh:NodeShape ;
    sh:property [ sh:path [ sh:zeroOrMorePath ex:next ] ;
                  sh:node ex:Item ] .
ex:Item a sh:NodeShape .
""",
        shape=EX + "Chain",
        expected={
            # ex:Chain is open: CBD(ex:N1) (2). ex:next* is satisfied
            # by zero hops, so it adds no quads itself, but its link
            # targets are walked: ex:N1 (zero hops), ex:N2, ex:N3, then
            # ex:N1 again, already reached, so the walk stops. Each
            # target is extracted under the open ex:Item: ex:N1 was
            # already extracted, CBD(ex:N2) (2), CBD(ex:N3) (3). ex:Out
            # is an IRI object, not expanded; ex:N0's quad points at
            # ex:N1 and is not outgoing from any extracted node.
            N1: {(N1, NEXT, N2, None), (N1, NAME, "N1", None),
                 (N2, NEXT, N3, None), (N2, NAME, "N2", None),
                 (N3, NEXT, N1, None), (N3, NAME, "N3", None),
                 (N3, KNOWS, OUT, None)},
        }),
    "multipath_bounds": dict(
        members=[ROOT], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Bounds a sh:NodeShape ;
    sh:closed true ;
    sh:property [ sh:path ( [ sh:oneOrMorePath ex:p ] ex:endP ) ] ,
                [ sh:path ( [ sh:oneOrMorePath ex:next ] ex:endN ) ] ,
                [ sh:path ( [ sh:zeroOrOnePath ex:q ] ex:endQ ) ] ,
                [ sh:path [ sh:alternativePath ( ex:r ex:s ) ] ] .
""",
        shape=EX + "Bounds",
        expected={
            # ex:Bounds is closed: no CBD of ex:Root, so ex:v is out.
            # ex:p+: hop 1 reaches ex:C1, hop 2 ex:C2, hop 3 ex:Root
            # again (already reached: admitted, since it took >= 1 hop,
            # but not expanded). All three p quads are traversed and
            # ex:endP is matched from ex:C1, ex:C2 and ex:Root.
            # ex:next+: ex:D1, then ex:D2, then nothing. ex:Root is
            # never reached in >= 1 hop, so its ex:endN quad is out.
            # ex:q?: ex:Root (zero hops) and ex:Q1 (one hop), then it
            # stops: ex:Q1 ex:q ex:Q2 is not traversed and ex:Q2's
            # ex:endQ is out. ex:r | ex:s: the union, one quad each.
            ROOT: {(ROOT, P, C1, None), (C1, P, C2, None),
                   (C2, P, ROOT, None),
                   (C1, END_P, "c1", None), (C2, END_P, "c2", None),
                   (ROOT, END_P, "root-p", None),
                   (ROOT, NEXT, D1, None), (D1, NEXT, D2, None),
                   (D1, END_N, "d1", None), (D2, END_N, "d2", None),
                   (ROOT, Q, Q1, None),
                   (ROOT, END_Q, "root-q", None), (Q1, END_Q, "q1", None),
                   (ROOT, R, "r", None), (ROOT, S, "s", None)},
        }),
    "xone_or_branches": dict(
        members=[CH], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Choice a sh:NodeShape ;
    sh:closed true ;
    sh:xone ( [ sh:path ex:a ]
              [ sh:or ( [ sh:path ex:b ] [ sh:path ex:c ] ) ] ) ;
    sh:or ( [ sh:path ex:d ]
            [ sh:property [ sh:path ex:link ; sh:node ex:Open ] ] ) .
ex:Open a sh:NodeShape .
""",
        shape=EX + "Choice",
        expected={
            # Every path in an xone/or branch is matched, at any
            # nesting depth, whether or not the branch is satisfied:
            # ex:Ch has quads for both xone branches (it fails the
            # xone), yet ex:a, ex:b and ex:c each give their quad.
            # ex:d has no quad. The or branch's ex:link gives its quad
            # and its target ex:L is extracted under the open ex:Open:
            # CBD(ex:L) (2) plus the blank closure _:l1 (1). ex:Choice
            # is closed, so ex:Ch ex:name is out; ex:Other is never
            # reached.
            CH: {(CH, PA, "a", None), (CH, PB, "b", None),
                 (CH, PC, "c", None), (CH, LINK, L, None),
                 (L, NAME, "L", None), (L, ADDR, "l1", None),
                 ("l1", STREET, "Main", None)},
        }),
    "self_linked_shape": dict(
        members=[ANN, DEE], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Person a sh:NodeShape ;
    sh:closed true ;
    sh:property [ sh:path ex:name ] ,
                [ sh:path ex:knows ; sh:node ex:Person ] .
""",
        shape=EX + "Person",
        expected={
            # ex:Person is closed: each node it claims gives only its
            # ex:name and ex:knows quads, never ex:age. From ex:Ann:
            # ex:knows reaches ex:Bob, claimed under ex:Person; ex:Bob's
            # ex:knows reach ex:Cy (claimed), ex:Ann (the member, already
            # claimed) and ex:Bob itself (already claimed); ex:Cy's reach
            # ex:Ann (claimed) and _:anon (claimed); _:anon's reaches
            # ex:Ann (claimed). Every node is claimed once, so the walk
            # ends: 4 nodes, 11 quads. ex:Dee and ex:Eve are never
            # reached from ex:Ann.
            ANN: {(ANN, NAME, "Ann", None), (ANN, KNOWS, BOB, None),
                  (BOB, NAME, "Bob", None), (BOB, KNOWS, CY, None),
                  (BOB, KNOWS, ANN, None), (BOB, KNOWS, BOB, None),
                  (CY, NAME, "Cy", None), (CY, KNOWS, ANN, None),
                  (CY, KNOWS, "anon", None),
                  ("anon", NAME, "anon", None), ("anon", KNOWS, ANN, None)},
            # Claims are per member: ex:Dee claims itself (2 quads), then
            # ex:Ann and everything ex:Ann reaches above, even though
            # member ex:Ann claimed those nodes too. ex:Eve points at
            # ex:Dee and is not reached.
            DEE: {(DEE, NAME, "Dee", None), (DEE, KNOWS, ANN, None),
                  (ANN, NAME, "Ann", None), (ANN, KNOWS, BOB, None),
                  (BOB, NAME, "Bob", None), (BOB, KNOWS, CY, None),
                  (BOB, KNOWS, ANN, None), (BOB, KNOWS, BOB, None),
                  (CY, NAME, "Cy", None), (CY, KNOWS, ANN, None),
                  (CY, KNOWS, "anon", None),
                  ("anon", NAME, "anon", None), ("anon", KNOWS, ANN, None)},
        }),
    "out_of_band_flag": dict(
        members=[D], bulk=False, ignore=(),
        shapes=SHAPES_PREFIXES + """
ex:Doc a sh:NodeShape ;
    sh:property [ sh:path ex:author ; sh:node ex:Author ] .
ex:Author a sh:NodeShape ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ] .
""",
        shape=EX + "Doc",
        expected={
            # ex:Doc is open: CBD(ex:D) (2), which also witnesses
            # ex:author. Its target ex:Auth is extracted under the open
            # ex:Author: ex:Auth has no quads in the store, so its CBD
            # and its ex:name path add nothing. ex:Other is never
            # reached.
            D: {(D, TITLE, "D", None), (D, AUTHOR, AUTH, None)},
        },
        # The required ex:name of ex:Auth, an IRI, is unsatisfied: the
        # global engine flags ex:Auth needs_dereference for member ex:D
        # (member ex:D itself has rows and no required path).
        flags={(D, AUTH)},
        # Dereferencing ex:Auth yields this document. With it as the
        # resolver's answer, CBD(ex:Auth) (2) joins the rows, ex:name
        # is satisfied and no flag remains.
        resolver={AUTH: """
@prefix ex: <http://example.org/> .
ex:Auth ex:name "Auth" ;
        ex:born "1900" .
"""},
        resolved={
            D: {(D, TITLE, "D", None), (D, AUTHOR, AUTH, None),
                (AUTH, NAME, "Auth", None), (AUTH, BORN, "1900", None)},
        }),
}


def _load(name):
    with open(os.path.join(FIXTURES, name + ".trig")) as f:
        return parse_trig(f.read())


def _shapes(case):
    """(compiled shapes graph, shape term) of a case; (None, None) for
    plain CBD."""
    if "shapes" not in case:
        return None, None
    return (ShapesGraph.from_quads(parse_trig(case["shapes"])),
            Term(IRI, case["shape"]))


def _want(case, key="expected"):
    return {(e, *q) for e, qs in case[key].items() for q in qs}


def _key(entity, row):
    """(entity, subject, predicate, object_value, graph) of an output
    row laid out as QUAD_COLS."""
    q = dict(zip(QUAD_COLS, row))
    return (entity, q["subject"], q["predicate"], q["object_value"],
            q["graph"])


@pytest.mark.parametrize("name", sorted(CASES))
def test_interpreter(name):
    case = CASES[name]
    rows = [quad_to_row(q) for q in _load(case.get("fixture", name))]
    shapes, shape = _shapes(case)
    got = {_key(e, q) for e, *q in extract_store(
        rows, [(IRI, m) for m in case["members"]], shapes, shape,
        bulk=case["bulk"],
        graphs_to_ignore=tuple((IRI, g) for g in case["ignore"]))}
    assert got == _want(case)


@pytest.mark.parametrize("vectorize", [True, False])
@pytest.mark.parametrize("name", sorted(CASES))
def test_store_local_sink(spark, sink_extract, name, vectorize):
    from pyspark.sql import functions as F

    from extract_cbd_shape_spark.sources import quads_to_df

    case = CASES[name]
    triples = quads_to_df(spark, _load(case.get("fixture", name))).withColumn(
        "store_key", F.lit("s"))
    members = spark.createDataFrame(
        [(m, "s") for m in case["members"]], "entity string, store_key string")
    shapes, shape = _shapes(case)
    out = sink_extract(
        triples, members, shapes_graph=shapes, shape=shape,
        bulk=case["bulk"], vectorize=vectorize,
        graphs_to_ignore=tuple(Term(IRI, g) for g in case["ignore"]))
    got = {_key(r["entity"], [r[c] for c in QUAD_COLS]) for r in out.collect()}
    assert got == _want(case)


# Every case under both join regimes of the global engine: the default
# (these few members run in latency mode) and broadcast_members_max=0,
# which pins scale mode. Default-regime ids are the bare case names.
@pytest.mark.parametrize("name,regime", [
    *[pytest.param(n, {}, id=n) for n in sorted(CASES)],
    *[pytest.param(n, {"broadcast_members_max": 0}, id=f"{n}-scale")
      for n in sorted(CASES)],
])
def test_global_engine(spark, name, regime):
    from extract_cbd_shape_spark.sources import quads_to_df

    case = CASES[name]
    triples = quads_to_df(spark, _load(case.get("fixture", name)))
    shapes, shape = _shapes(case)
    res, _ = BulkCBDShapeExtractor(
        spark, shapes_graph=shapes, **regime).extract(
        triples, [Term(IRI, m) for m in case["members"]], shape=shape,
        bulk=case["bulk"],
        graphs_to_ignore=[Term(IRI, g) for g in case["ignore"]])
    got = {_key(r["entity"], [r[c] for c in QUAD_COLS])
           for r in res.select("entity", *QUAD_COLS).collect()}
    assert got == _want(case)


@pytest.mark.parametrize("regime", [
    pytest.param({}, id="latency"),
    pytest.param({"broadcast_members_max": 0}, id="scale"),
])
@pytest.mark.parametrize("resolve", [False, True])
def test_global_engine_out_of_band(spark, regime, resolve):
    """The out-of-band rule (SURVEY.md O17) on the global engine: a
    linked IRI whose required path has no quads is flagged
    needs_dereference, not fetched; a resolver that answers for it adds
    its quads and clears the flag."""
    from extract_cbd_shape_spark.sources import quads_to_df

    case = CASES["out_of_band_flag"]
    resolver = ({node: parse_trig(ttl)
                 for node, ttl in case["resolver"].items()}
                if resolve else None)
    shapes, shape = _shapes(case)
    members = case["members"]
    res, flags = BulkCBDShapeExtractor(
        spark, shapes_graph=shapes, resolver=resolver, **regime).extract(
        quads_to_df(spark, _load("out_of_band_flag")),
        [Term(IRI, m) for m in members], shape=shape)
    got = {_key(r["entity"], [r[c] for c in QUAD_COLS])
           for r in res.select("entity", *QUAD_COLS).collect()}
    assert got == _want(case, "resolved" if resolve else "expected")
    flagged = {(members[r["member_id"]], r["node"])
               for r in flags.collect()}
    assert flagged == (set() if resolve else case["flags"])
