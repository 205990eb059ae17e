"""CLI parity with the reference's bin/ entry points.

* ``extract`` — reference bin/extract.ts:44-66: load a shapes graph
  (following ``owl:imports`` transitively, bin/extract.ts:16-42), load
  data, extract one entity, serialize N-Quads to stdout or a file.
  Where the reference extracts against an *empty* store and relies on
  HTTP dereference of the entity IRI, this engine requires a local data
  file (``--data``); out-of-band fetching is a flagged policy at scale
  (SURVEY.md O17), with ``--resolve iri=file`` emulating single fetches.
* ``mermaid`` — reference bin/mermaid.ts:22-40: compile a shapes graph
  and print the Mermaid flowchart for one shape.

Imports resolve as local paths (relative to the importing file) or
``file:`` IRIs; ``http(s)`` imports are reported and skipped — this
sandbox does not fetch.

Usage:
    python -m extract_cbd_shape_spark extract --data data.ttl \
        --entity http://example.org/B [--shapes shapes.ttl] \
        [--shape-iri IRI] [--out out.nq]
    python -m extract_cbd_shape_spark mermaid shapes.ttl [shape-iri]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from typing import Dict, List, Optional

from extract_cbd_shape_spark.model import IRI, Quad, Term, rows_to_df
from extract_cbd_shape_spark.rdf.trig import parse_trig

OWL_IMPORTS = "http://www.w3.org/2002/07/owl#imports"


def load_shape_quads(path: str, _seen: Optional[set] = None) -> List[Quad]:
    """Parse a local TTL/TriG file and transitively follow owl:imports
    (bin/extract.ts:16-42 loadShape). Local/file: imports only."""
    seen = _seen if _seen is not None else set()
    path = os.path.abspath(path)
    if path in seen:
        return []
    seen.add(path)
    with open(path) as f:
        quads = parse_trig(f.read(), base=f"file://{path}")
    out = list(quads)
    for q in quads:
        if q.predicate.value != OWL_IMPORTS or q.object.kind != IRI:
            continue
        target = q.object.value
        if target.startswith("file://"):
            target = target[len("file://"):]
        if target.startswith(("http://", "https://")):
            print(f"# skipping remote owl:imports {target} (no network)",
                  file=sys.stderr)
            continue
        if not os.path.isabs(target):
            target = os.path.join(os.path.dirname(path), target)
        out.extend(load_shape_quads(target, seen))
    return out


def _build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("extract-cbd-shape-spark-cli")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def cmd_extract(args: argparse.Namespace) -> int:
    from extract_cbd_shape_spark.operators.extract import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.shapes.compiler import ShapesGraph
    from extract_cbd_shape_spark.sinks.nquads import to_nquads
    from extract_cbd_shape_spark.sources.fixtures import quads_to_df

    spark = _build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    shapes_graph = None
    shape = None
    if args.shapes:
        shapes_graph = ShapesGraph.from_quads(load_shape_quads(args.shapes))
        if args.shape_iri:
            shape = Term(IRI, args.shape_iri)
        else:
            # The reference CLI always pairs a shapes graph with a shape
            # IRI (bin/extract.ts:49-58). Loading shapes but guiding by
            # none would silently degrade to plain CBD, so default to
            # the graph's only ROOT shape — ShapesGraph.from_quads also
            # registers child shapes (objects of sh:node), which are not
            # default candidates (a root + its linked children is still
            # one unambiguous entry point). No root at all is an error,
            # not a silent fall-through to plain CBD.
            linked = {
                (nl.link.kind, nl.link.value)
                for tpl in shapes_graph.shapes.values()
                for nl in tpl.all_node_links()
            }
            iris = sorted(
                v for (k, v) in shapes_graph.shapes
                if k == IRI and (k, v) not in linked
            )
            if len(iris) == 1:
                shape = Term(IRI, iris[0])
            elif len(iris) > 1:
                sys.exit(
                    "--shapes has multiple root node shapes; pick one "
                    "with --shape-iri: " + ", ".join(iris)
                )
            else:
                sys.exit(
                    "--shapes given but no IRI node shape found to guide "
                    "extraction; pass --shape-iri or drop --shapes"
                )

    resolver: Dict[str, List[Quad]] = {}
    for spec in args.resolve or []:
        iri, _, fpath = spec.partition("=")
        with open(fpath) as f:
            resolver[iri] = parse_trig(f.read(), base=iri)

    data = quads_to_df(spark, load_shape_quads(args.data))
    ex = BulkCBDShapeExtractor(
        spark, shapes_graph=shapes_graph,
        resolver=resolver if resolver else None,
    )
    results, flags = ex.extract(data, [Term(IRI, args.entity)], shape=shape)
    lines = [r.line for r in to_nquads(results).orderBy("line").collect()]
    text = "\n".join(lines) + ("\n" if lines else "")
    if args.out and args.out != "-":
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    needs = flags.count() if flags is not None else 0
    if needs:
        print(f"# {needs} entities flagged needs_dereference", file=sys.stderr)
    return 0


_PATH_CHARS = set("/|^+*?()")


def cmd_shard(args: argparse.Namespace) -> int:
    """Driver-side giant-.ttl shard helper (the documented recipe for
    the format's not-splittable-below-document bound — see
    sources/turtle.py module docstring): run once, then `read_turtle`
    over the shard directory fans out file-per-task."""
    from extract_cbd_shape_spark.sources.turtle import shard_turtle

    shards = shard_turtle(args.data, args.out_dir,
                          target_bytes=args.target_bytes)
    print(f"# wrote {len(shards)} shards to {args.out_dir}",
          file=sys.stderr)
    for p in shards:
        print(p)
    return 0


def _query_term(tok: str):
    """CLI pattern/template token -> BGP term. ``?x`` = variable,
    ``<iri>`` = IRI constant (angle brackets stripped), ``"text"`` =
    literal Term — optionally suffixed ``"chat"@en`` (language tag) or
    ``"5"^^xsd:int`` / ``"5"^^<iri>`` (datatype) — ``_:l`` = blank
    Term (template blank label), anything else = bare IRI/
    prefixed-name constant."""
    from extract_cbd_shape_spark.model import BLANK, LITERAL

    if tok.startswith("?"):
        return tok
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if tok.startswith('"'):
        m = re.match(
            r'^"(.*)"(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^(\S+))?$', tok, re.S)
        if not m:
            sys.exit(f"malformed literal token: {tok!r}")
        val, lang, dt = m.group(1), m.group(2), m.group(3)
        if dt and dt.startswith("<") and dt.endswith(">"):
            dt = dt[1:-1]
        return Term(LITERAL, val, lang=lang, datatype=dt)
    if tok.startswith("_:"):
        return Term(BLANK, tok[2:])
    return tok


def _query_pattern(spec: str):
    """One ``--pattern``/``--construct`` spec: three tokens split with
    quote-aware lexing (``shlex`` non-POSIX mode — ADVICE r4), so a
    literal containing spaces (``?s kbo:label "two words"``) stays one
    token with its quotes intact. A predicate token that is neither a
    variable nor ``<bracketed>`` and contains path syntax
    (``/ | ^ + * ? ( )``) compiles as a property path; bracket full
    IRIs containing ``/`` to force a plain constant."""
    import shlex

    try:
        toks = shlex.split(spec, posix=False)
    except ValueError as e:
        sys.exit(f"malformed pattern {spec!r}: {e}")
    # non-POSIX shlex ends a token at the closing quote, splitting
    # "chat"@en into ["chat"] + [@en] — glue @lang/^^datatype suffixes
    # back onto their literal
    merged: list = []
    for t in toks:
        if (merged and merged[-1].startswith('"')
                and (t.startswith("@") or t.startswith("^^"))):
            merged[-1] += t
        else:
            merged.append(t)
    toks = merged
    if len(toks) != 3:
        sys.exit(f"pattern must have 3 terms: {spec!r}")
    s, p, o = toks
    # path syntax counts only OUTSIDE angle brackets: <http://a/p> is a
    # plain constant, <http://a/p>/<http://a/q> a 2-hop sequence
    outside = re.sub(r"<[^>]*>", "", p)
    if not p.startswith("?") and any(c in _PATH_CHARS for c in outside):
        from extract_cbd_shape_spark.operators.bgp import parse_path

        pred = parse_path(p)
    else:
        pred = _query_term(p)
    return (_query_term(s), pred, _query_term(o))


def cmd_query(args: argparse.Namespace) -> int:
    """BGP SELECT / CONSTRUCT over a TTL/TriG file — the consumption
    dual of ``extract`` (no reference counterpart; the reference has no
    query CLI)."""
    from extract_cbd_shape_spark.operators.bgp import bgp_construct, bgp_match
    from extract_cbd_shape_spark.sinks.nquads import to_nquads
    from extract_cbd_shape_spark.sources.fixtures import quads_to_df

    spark = _build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    data = quads_to_df(spark, load_shape_quads(args.data))
    patterns = [_query_pattern(s) for s in args.pattern]
    has_path = any(not isinstance(p[1], str) for p in patterns)
    if args.ask:
        from extract_cbd_shape_spark.operators.bgp import bgp_ask

        ok = bgp_ask(data, patterns, filters=args.filter or None)
        print("true" if ok else "false")
        return 0
    if args.describe:
        from extract_cbd_shape_spark.model import QUAD_COLS
        from extract_cbd_shape_spark.operators.bgp import bgp_describe

        res = bgp_describe(
            data, patterns, args.describe, filters=args.filter or None,
        ).select(*QUAD_COLS).dropDuplicates()
        lines = [r.line for r in to_nquads(res).orderBy("line").collect()]
        sys.stdout.write("\n".join(lines) + ("\n" if lines else ""))
        return 0
    if args.construct:
        template = [_query_pattern(s) for s in args.construct]
        g = bgp_construct(
            data, patterns, template, filters=args.filter or None,
            with_kinds=not has_path,
        )
        lines = [r.line for r in to_nquads(g).orderBy("line").collect()]
        sys.stdout.write("\n".join(lines) + ("\n" if lines else ""))
        return 0
    aggregates = None
    if args.agg:
        aggregates = {}
        for spec in args.agg:
            name, _, expr = spec.partition("=")
            if not expr:
                sys.exit(f"--agg must be name=expr: {spec!r}")
            aggregates[name] = expr
    out = bgp_match(
        data, patterns, select=args.select or None,
        filters=args.filter or None, distinct=args.distinct,
        group_by=args.group_by or None, aggregates=aggregates,
        having=args.having or None,
    )
    cols = out.columns
    rows = sorted(tuple("" if v is None else str(v) for v in r)
                  for r in out.collect())
    sys.stdout.write("\t".join(cols) + "\n")
    for r in rows:
        sys.stdout.write("\t".join(r) + "\n")
    return 0


def cmd_validate(args: argparse.Namespace) -> int:
    """Per-entity SHACL conformance report (operators/validate.py) —
    the reference's requiredAreNotPresent evidence as a table."""
    from extract_cbd_shape_spark.operators.extract import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.operators.validate import shacl_report
    from extract_cbd_shape_spark.shapes.compiler import ShapesGraph
    from extract_cbd_shape_spark.sources.fixtures import quads_to_df

    spark = _build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    shapes_graph = ShapesGraph.from_quads(load_shape_quads(args.shapes))
    data = quads_to_df(spark, load_shape_quads(args.data))
    members = rows_to_df(
        spark, [(e, 0, i) for i, e in enumerate(args.entity)],
        "entity string, entity_kind tinyint, input_idx long",
    )
    rep = shacl_report(
        BulkCBDShapeExtractor(spark, shapes_graph=shapes_graph),
        data, members, shape=Term(IRI, args.shape_iri),
    ).orderBy("input_idx").collect()
    sys.stdout.write("entity\tconforms\tmissing\n")
    for r in rep:
        sys.stdout.write(
            f"{r.entity}\t{str(r.conforms).lower()}\t{r.missing or ''}\n")
    return 0 if all(r.conforms for r in rep) else 3


def cmd_mermaid(args: argparse.Namespace) -> int:
    from extract_cbd_shape_spark.shapes.compiler import ShapesGraph
    from extract_cbd_shape_spark.shapes.mermaid import MermaidRenderer

    sg = ShapesGraph.from_quads(load_shape_quads(args.shapes))
    renderer = MermaidRenderer(sg)
    if args.shape_iri:
        print(renderer.render(Term(IRI, args.shape_iri)))
    else:
        for kind, value in sorted(sg.shapes):
            print(renderer.render(Term(kind, value)))
    return 0


def main(argv: Optional[List[str]] = None) -> int:
    p = argparse.ArgumentParser(prog="extract_cbd_shape_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("extract", help="extract one entity, print N-Quads")
    pe.add_argument("--data", required=True, help="TTL/TriG data file")
    pe.add_argument("--entity", required=True, help="focus entity IRI")
    pe.add_argument("--shapes", help="SHACL shapes TTL (owl:imports followed)")
    pe.add_argument("--shape-iri", help="shape IRI within the shapes graph")
    pe.add_argument("--resolve", action="append", metavar="IRI=FILE",
                    help="emulated dereference: serve FILE for IRI")
    pe.add_argument("--out", default="-", help="output file or - for stdout")
    pe.add_argument("--cpus", type=int, default=4)
    pe.set_defaults(fn=cmd_extract)

    pq = sub.add_parser(
        "query", help="BGP SELECT/CONSTRUCT over a TTL/TriG file")
    pq.add_argument("--data", required=True, help="TTL/TriG data file")
    pq.add_argument("--pattern", action="append", required=True,
                    metavar="'?s pred ?o'",
                    help="triple pattern (repeatable); predicate may be "
                         "a property path (a/b, ^p, p+, p|q)")
    pq.add_argument("--select", nargs="+", metavar="?var",
                    help="projected variables (default: all)")
    pq.add_argument("--filter", action="append", metavar="SQL",
                    help="FILTER as a Spark SQL boolean over variables")
    pq.add_argument("--construct", action="append", metavar="'?s pred ?o'",
                    help="CONSTRUCT template triple (repeatable); "
                         "output becomes N-Quads instead of a table")
    pq.add_argument("--ask", action="store_true",
                    help="ASK form: print true/false instead of rows")
    pq.add_argument("--describe", metavar="?var",
                    help="DESCRIBE form: CBD of each distinct binding "
                         "of ?var (extraction-engine-backed), N-Quads out")
    pq.add_argument("--distinct", action="store_true")
    pq.add_argument("--group-by", nargs="+", metavar="?var",
                    help="SPARQL GROUP BY variables")
    pq.add_argument("--agg", action="append", metavar="name=expr",
                    help="aggregate output, e.g. n='count(*)' or "
                         "total='sum(?x)' (repeatable)")
    pq.add_argument("--having", action="append", metavar="SQL",
                    help="HAVING as a Spark SQL boolean over aggregate "
                         "output names")
    pq.add_argument("--cpus", type=int, default=4)
    pq.set_defaults(fn=cmd_query)

    pv = sub.add_parser(
        "validate",
        help="per-entity SHACL conformance report (exit 3 on violations)")
    pv.add_argument("--data", required=True, help="TTL/TriG data file")
    pv.add_argument("--shapes", required=True,
                    help="SHACL shapes TTL (owl:imports followed)")
    pv.add_argument("--shape-iri", required=True,
                    help="shape IRI within the shapes graph")
    pv.add_argument("--entity", action="append", required=True,
                    help="focus entity IRI (repeatable)")
    pv.add_argument("--cpus", type=int, default=4)
    pv.set_defaults(fn=cmd_validate)

    pm = sub.add_parser("mermaid", help="render shapes as Mermaid")
    pm.add_argument("shapes", help="SHACL shapes TTL file")
    pm.add_argument("shape_iri", nargs="?", help="one shape IRI (default: all)")
    pm.set_defaults(fn=cmd_mermaid)

    ps = sub.add_parser(
        "shard",
        help="split ONE giant .ttl into N document-valid shards "
             "(statement boundaries, directives replicated, blank-label "
             "sharers co-located) so read_turtle fans out file-per-task")
    ps.add_argument("--data", required=True, help="giant .ttl/.trig file")
    ps.add_argument("--out-dir", required=True, help="shard directory")
    ps.add_argument("--target-bytes", type=int, default=64 * 1024 * 1024,
                    help="approximate shard size (default 64 MiB)")
    ps.set_defaults(fn=cmd_shard)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
