"""Fixture P/R report — the north rule's correctness criterion
("triple P/R >= 0.95 vs extract-cbd-shape test fixtures").

The reference cannot run in this sandbox (no node_modules, no network),
so the standard of comparison is two-level, both derived from the
reference's own mocha suites:

1. COUNT parity: every case below carries the quad count the reference
   pins in its test assertion (citation per case). An engine whose
   emitted quad set has the pinned cardinality AND is a superset/subset
   mismatch would fail level 2, so counts alone are necessary, not
   sufficient.
2. SET P/R: the per-member interpreter
   (operators/local_extract.extract_store, the faithful
   reimplementation of lib/CBDShapeExtractor.ts extractRecursively —
   DFS order, per-path-position trie, closed-shape re-matching) is the
   emission standard; the two production engines — the global DataFrame
   fixpoint engine (operators/extract.py) and the vectorized CSR kernel
   (run through the sink-fused store-local path, vectorize=True,
   where its gate accepts the shape) — are scored quad-level precision/recall against it per case,
   then micro-averaged.

Run: python tools/fixture_pr.py            (prints the table + summary)
The BENCH.md "Fixture P/R" section records the committed result.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference/tests"
EX = "http://example.org/"
SHSH = "http://www.w3.org/ns/shacl-shacl#"

NAME_TTL = """
@prefix ex: <http://example.org/> .
<./name.ttl> ex:name "Pieter" .
<https://test.com/name.ttl#Person1> ex:name "Peterson" .
"""

# (label, data fixture, shapes fixture|None, entity, shape iri|None,
#  expected count, reference citation, needs_resolver)
CASES = [
    # tests/01 — CBD over the catalog + shacl-shacl-guided extraction
    ("01 cbd PersonShape", "01 - fetching a shacl shape/shacl-catalog.ttl",
     None, EX + "PersonShape", None, 11,
     "tests/01 extraction.test.ts (CBD, 11)", False),
    ("01 shaped PersonShape", "01 - fetching a shacl shape/shacl-catalog.ttl",
     "01 - fetching a shacl shape/shacl-shacl.ttl",
     EX + "PersonShape", SHSH + "NodeShapeShape", 11,
     "tests/01 extraction.test.ts (shape-guided, 11)", False),
    ("01 shaped OrganizationShape",
     "01 - fetching a shacl shape/shacl-catalog.ttl",
     "01 - fetching a shacl shape/shacl-shacl.ttl",
     EX + "OrganizationShape", SHSH + "NodeShapeShape", 16,
     "tests/01 extraction.test.ts (xone branch, 16)", False),
    ("01 shacl-shacl self", "01 - fetching a shacl shape/shacl-shacl.ttl",
     "01 - fetching a shacl shape/shacl-shacl.ttl",
     SHSH + "ShapeShape", SHSH + "ShapeShape", 273,
     "tests/01 extraction.test.ts (self-extraction, 273)", False),
    # tests/02 — marine regions CBD
    ("02 mrg CBD", "02 - marine regions LDES/data.ttl", None,
     "http://marineregions.org/mrgid/24983?t=1690208097", None, 2,
     "tests/02 mrg.test.ts (2)", False),
    # tests/03 — CBD without a shape
    ("03 A nested blank", "03 - CBD tests without a shape/data.ttl", None,
     EX + "A", None, 4, "tests/03 without-shape.test.ts (4)", False),
    ("03 B graph+star", "03 - CBD tests without a shape/data.ttl", None,
     EX + "B", None, 8, "tests/03 without-shape.test.ts (8)", False),
    ("03 C named graph", "03 - CBD tests without a shape/data.ttl", None,
     EX + "C", None, 4, "tests/03 without-shape.test.ts (4)", False),
    ("03 Activity1", "03 - CBD tests without a shape/data.ttl", None,
     EX + "Activity1", None, 6, "tests/03 without-shape.test.ts (6)", False),
    # tests/04 — logical edge cases (deref cases use the emulated
    # resolver exactly like the reference's mocked fetch)
    ("04 Person1/Shape", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person1", EX + "Shape", 7,
     "tests/04 testExtraction.test.ts (7)", True),
    ("04 Person2/PersonShape", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person2",
     EX + "PersonShape", 7, "tests/04 testExtraction.test.ts (7)", True),
    ("04 Person3/KnowsPieter", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person3",
     EX + "KnowsPieterShape", 4, "tests/04 testExtraction.test.ts (4)", True),
    ("04 Person4/XoneWithNode", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person4",
     EX + "XoneWithNodeShape", 3, "tests/04 testExtraction.test.ts (3)", True),
    ("04 Person5/TriggersHTTP", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person5",
     EX + "TriggersHTTPShape", 3, "tests/04 testExtraction.test.ts (3)", True),
    ("04 Person6/CircularXone", "04 - logical edge cases/data.ttl",
     "04 - logical edge cases/shape.ttl", EX + "Person6",
     EX + "CircularXoneShape", 7, "tests/04 testExtraction.test.ts (7)", True),
    # tests/05 — SHACL property paths
    ("05 B/Sequence", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "B", EX + "SequencePathShape", 3,
     "tests/05 extraction.test.ts (3)", False),
    ("05 C/Inverse", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "C", EX + "InversePathShape", 1,
     "tests/05 extraction.test.ts (1)", False),
    ("05 B/DoubleInverse", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "B", EX + "DoubleInversePathShape", 1,
     "tests/05 extraction.test.ts (1)", False),
    ("05 C/SeqAndInverse", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "C", EX + "SequenceAndInversePathShape", 2,
     "tests/05 extraction.test.ts (2)", False),
    ("05 A/ZeroOrMore", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "A", EX + "ZeroOrMorePathShape", 2,
     "tests/05 extraction.test.ts (2)", False),
    ("05 B/ZeroOrMore2", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "B", EX + "ZeroOrMorePathShape2", 3,
     "tests/05 extraction.test.ts (3)", False),
    ("05 A/OneOrMore", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "A", EX + "OneOrMorePathShape", 2,
     "tests/05 extraction.test.ts (2)", False),
    ("05 B/Alternative", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "B", EX + "AlternativePathShape", 2,
     "tests/05 extraction.test.ts (2)", False),
    ("05 B/AllTogether", "05 - paths/data.ttl", "05 - paths/shape.ttl",
     EX + "B", EX + "AllTogetherPathShape", 2,
     "tests/05 extraction.test.ts (2)", False),
    # tests/06 — shapes and named graphs
    # graphs_to_ignore=[ex:M1v2] (the version-material case)
    ("06 M1v1 ignore M1v2", "06 - shapes and named graphs/data.ttl",
     "06 - shapes and named graphs/shape.ttl", EX + "M1v1", EX + "Shape", 2,
     "tests/06 extraction.test.ts (2, graphs_to_ignore)", False),
    ("06 line nested blank", "06 - shapes and named graphs/data-example.ttl",
     "06 - shapes and named graphs/shape-example.ttl", EX + "line",
     EX + "shape", 6, "tests/06 extraction-example.test.ts (6)", False),
]

QUAD_COLS = [
    "subject", "subject_kind", "predicate", "object_value", "object_kind",
    "object_lang", "object_datatype", "graph", "graph_kind",
]


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from extract_cbd_shape_spark.model import IRI, Term, quad_to_row, rows_to_df
    from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.operators.local_extract import (
        compile_single_hop_links,
        extract_store,
        extract_store_files_to_store,
        materialize_store,
    )
    from extract_cbd_shape_spark.rdf import parse_trig
    from extract_cbd_shape_spark.shapes import ShapesGraph
    from extract_cbd_shape_spark.sources import quads_to_df

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def load(rel: str) -> str:
        with open(os.path.join(REF, rel)) as f:
            return f.read()

    resolver_quads = parse_trig(NAME_TTL, base="https://test.com/name.ttl")
    resolver = {
        "https://test.com/name.ttl": resolver_quads,
        "https://test.com/name.ttl#Person1": resolver_quads,
    }

    counts_ok = 0
    tp_g = fp_g = fn_g = 0   # global engine vs interpreter standard
    tp_v = fp_v = fn_v = 0   # vectorized kernel vs interpreter standard
    vec_cases = 0
    rows_out = []
    for (label, data_rel, shapes_rel, entity, shape_iri, expected,
         cite, needs_resolver) in CASES:
        parsed = parse_trig(load(data_rel))
        quads = [quad_to_row(q) for q in parsed]
        sg = (ShapesGraph.from_quads(parse_trig(load(shapes_rel)))
              if shapes_rel else None)
        shape = Term(IRI, shape_iri) if shape_iri else None

        # production global engine (the default user path)
        ex = BulkCBDShapeExtractor(
            spark, shapes_graph=sg,
            resolver=resolver if needs_resolver else None)
        ignore = ([Term(IRI, EX + "M1v2")]
                  if label.startswith("06 M1v1") else None)
        res, _ = ex.extract(quads_to_df(spark, parsed), [Term(IRI, entity)],
                            shape=shape, graphs_to_ignore=ignore)
        got_g = {tuple(r) for r in res.select(*QUAD_COLS).collect()}

        count_ok = len(got_g) == expected
        counts_ok += count_ok

        if needs_resolver:
            # interpreter path has no resolver loop (scale policy:
            # dereference is flagged, not fetched) — count-level only
            rows_out.append((label, expected, len(got_g),
                             "n/a (resolver)", count_ok, cite))
            continue

        std = {tuple(r[1:]) for r in extract_store(
            quads, [(IRI, entity)], sg, shape, bulk=False,
            graphs_to_ignore={(t.kind, t.value) for t in ignore or ()})}
        tp = len(got_g & std)
        tp_g += tp
        fp_g += len(got_g - std)
        fn_g += len(std - got_g)
        pr = "1.000/1.000" if got_g == std else (
            f"{tp / max(len(got_g), 1):.3f}/{tp / max(len(std), 1):.3f}")

        vec_note = "-"
        if compile_single_hop_links(sg, shape) is not None:
            vec_cases += 1
            tdf = quads_to_df(spark, parsed).withColumn(
                "store_key", F.lit("s"))
            mem = rows_to_df(spark, [(entity,)], "entity string").withColumn(
                "store_key", F.lit("s"))
            root = tempfile.mkdtemp(prefix="fixture_pr_")
            out = os.path.join(root, "out")
            extract_store_files_to_store(
                spark, materialize_store(tdf, mem, os.path.join(root, "store")),
                out, shapes_graph=sg, shape=shape, bulk=False,
                vectorize=True, graphs_to_ignore=tuple(ignore or ()),
            ).collect()
            got_v = {tuple(r) for r in
                     spark.read.parquet(out).select(*QUAD_COLS).collect()}
            shutil.rmtree(root, ignore_errors=True)
            tp_v += len(got_v & std)
            fp_v += len(got_v - std)
            fn_v += len(std - got_v)
            vec_note = "=" if got_v == std else "DIFF"

        rows_out.append((label, expected, len(got_g), pr + " vec:" + vec_note,
                         count_ok, cite))

    print(f"{'case':28} {'ref':>4} {'got':>4} {'P/R (global) vec':20} ok")
    for label, exp, got, pr, ok, _cite in rows_out:
        print(f"{label:28} {exp:4d} {got:4d} {pr:20} {'Y' if ok else 'N'}")
    n = len(CASES)
    p_g = tp_g / max(tp_g + fp_g, 1)
    r_g = tp_g / max(tp_g + fn_g, 1)
    p_v = tp_v / max(tp_v + fp_v, 1)
    r_v = tp_v / max(tp_v + fn_v, 1)
    print(f"\ncases: {n}  count-parity: {counts_ok}/{n}")
    print(f"global engine micro P/R vs interpreter standard: "
          f"{p_g:.4f}/{r_g:.4f} over {tp_g + fn_g} standard quads")
    print(f"vectorized kernel micro P/R ({vec_cases} gated-in cases): "
          f"{p_v:.4f}/{r_v:.4f}")
    bar = counts_ok == n and p_g >= 0.95 and r_g >= 0.95 and \
        p_v >= 0.95 and r_v >= 0.95
    print(f"north-rule bar (>=0.95): {'PASS' if bar else 'FAIL'}")
    return 0 if bar else 1


if __name__ == "__main__":
    raise SystemExit(main())
