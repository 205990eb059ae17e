"""RDF term / quad data model.

Mirrors the reference's term identity rules (lib/Utils.ts:66-95):

* a term is identified by (termType, value) for IRIs and blank nodes;
* a literal is identified by (value, language, datatype);
* named-node and blank-node namespaces never collide (lib/Shape.ts:115-138)
  — we keep an explicit ``kind`` discriminator next to every value column.

The DataFrame layout is flat (Parquet/Iceberg friendly): every term
position is a (value, kind[, lang, datatype]) column group instead of a
nested struct so Catalyst can prune/push down on individual columns.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import types as T

# Term kinds (tinyint in DataFrames).
IRI = 0
BLANK = 1
LITERAL = 2
# RDF-star quoted triple (reference termType 'Quad', lib/Utils.ts:75-84,
# lib/Path.ts:289-308). The term's ``value`` column holds the canonical
# N-Triples-star serialization of the quoted triple (encode_quoted), so
# identity/join keys compose recursively exactly like the reference's
# termKey string.
QUOTED = 3

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_LANGSTRING = RDF_NS + "langString"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_TYPE = RDF_NS + "type"
SH = "http://www.w3.org/ns/shacl#"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


class Term(NamedTuple):
    """Driver-side RDF term. ``lang``/``datatype`` only set for literals."""

    kind: int
    value: str
    lang: Optional[str] = None
    datatype: Optional[str] = None

    @staticmethod
    def iri(value: str) -> "Term":
        return Term(IRI, value)

    @staticmethod
    def blank(label: str) -> "Term":
        return Term(BLANK, label)

    @staticmethod
    def literal(value: str, lang: Optional[str] = None,
                datatype: Optional[str] = None) -> "Term":
        # rdf-data-factory defaults: lang => rdf:langString, else xsd:string.
        if lang:
            datatype = RDF_LANGSTRING
        elif datatype is None:
            datatype = XSD_STRING
        return Term(LITERAL, value, lang or None, datatype)

    def is_named(self) -> bool:
        return self.kind == IRI

    def is_blank(self) -> bool:
        return self.kind == BLANK

    def is_literal(self) -> bool:
        return self.kind == LITERAL


class Quad(NamedTuple):
    """Driver-side quad. ``graph`` is None for the default graph."""

    subject: Term
    predicate: Term
    object: Term
    graph: Optional[Term] = None


def term_ntriples(t: Term) -> str:
    """Canonical N-Triples(-star) spelling of a term — also the QUOTED
    value encoding, mirroring the recursive termKey of the reference
    (lib/Utils.ts:66-95)."""
    if t.kind == IRI:
        return f"<{t.value}>"
    if t.kind == BLANK:
        return f"_:{t.value}"
    if t.kind == QUOTED:
        return t.value  # already the canonical << ... >> spelling
    v = (
        t.value.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )
    if t.lang:
        return f'"{v}"@{t.lang}'
    if t.datatype and t.datatype != XSD_STRING:
        return f'"{v}"^^<{t.datatype}>'
    return f'"{v}"'


def encode_quoted(subject: Term, predicate: Term, obj: Term) -> Term:
    """Build an RDF-star quoted-triple term; injective by construction
    (canonical serialization of each component)."""
    return Term(
        QUOTED,
        f"<< {term_ntriples(subject)} {term_ntriples(predicate)} "
        f"{term_ntriples(obj)} >>",
    )


# Flat column layout shared by every quad-shaped DataFrame.
QUAD_FIELDS = [
    ("subject", T.StringType(), False),
    ("subject_kind", T.ByteType(), False),
    ("predicate", T.StringType(), False),
    ("object_value", T.StringType(), False),
    ("object_kind", T.ByteType(), False),
    ("object_lang", T.StringType(), True),
    ("object_datatype", T.StringType(), True),
    ("graph", T.StringType(), True),
    ("graph_kind", T.ByteType(), True),
]

QUAD_COLS = [name for name, _, _ in QUAD_FIELDS]


def quad_schema(extra: Optional[list] = None) -> T.StructType:
    fields = [T.StructField(n, t, nullable) for n, t, nullable in QUAD_FIELDS]
    if extra:
        fields = extra + fields
    return T.StructType(fields)


def quad_to_row(q: Quad) -> tuple:
    g = q.graph
    return (
        q.subject.value,
        q.subject.kind,
        q.predicate.value,
        q.object.value,
        q.object.kind,
        q.object.lang,
        q.object.datatype,
        g.value if g is not None else None,
        g.kind if g is not None else None,
    )


def rows_to_df(spark, rows, schema):
    """Driver-side rows (tuples in ``schema`` order) as a DataFrame with
    exactly ``schema`` (a StructType or a DDL string): its names, types
    and nullability, for no rows too.

    The rows reach the JVM as an Arrow stream and no Python worker runs.
    ``spark.createDataFrame(list)`` would pickle them through an
    RDD-level ``PythonRDD``, whose workers Spark keeps in a daemon pool
    of their own, beside the pool of the SQL runners (the parse's
    ``mapInPandas``, the sink's ``mapInArrow``): four more resident
    Python processes per application. Every list-built DataFrame of the
    package goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def row_to_quad(row) -> Quad:
    graph = None
    if row.graph is not None:
        graph = Term(row.graph_kind, row.graph)
    obj_kind = row.object_kind
    if obj_kind == LITERAL:
        obj = Term(LITERAL, row.object_value, row.object_lang, row.object_datatype)
    else:
        obj = Term(obj_kind, row.object_value)
    return Quad(
        Term(row.subject_kind, row.subject),
        Term(IRI, row.predicate),
        obj,
        graph,
    )
