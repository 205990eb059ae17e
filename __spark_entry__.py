"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: shape-guided KG extraction over triples
                  synthesized from sf0.001 testdata.
queries()       — one entry per implemented operator family
                  (SURVEY.md §2).
oracle_sql()    — DuckDB mirrors (tables pre-registered as views).

Column names are aliased identically on both sides; hashing-sensitive
values are md5 hex strings or round(x, 4) doubles.
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import IRI, Term
from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
from extract_cbd_shape_spark.operators.closure import (
    connected_components,
    transitive_closure,
)
from extract_cbd_shape_spark.operators.kgtriples import (
    KBO_SHAPE_IRI,
    KBO_SHAPE_TTL,
    ORACLE_TRIPLES_CTE,
    kbo_members,
    tpch_triples,
    with_store_key,
)
from extract_cbd_shape_spark.operators.linking import link_mentions
from extract_cbd_shape_spark.functions.text import tokens
from extract_cbd_shape_spark.rdf import parse_trig
from extract_cbd_shape_spark.shapes import ShapesGraph
from extract_cbd_shape_spark.sources.pages import (
    extract_page_text,
    extract_page_triples,
    synth_pages,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

ORDER_SHAPE_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/kg/> .
ex:OrderShape a sh:NodeShape ;
  sh:property [ sh:path <kg:hasCustomer> ; sh:minCount 1 ;
                sh:node ex:CustomerShape ] .
ex:CustomerShape a sh:NodeShape ;
  sh:property [ sh:path <kg:inNation> ; sh:minCount 1 ;
                sh:node ex:NationShape ] .
ex:NationShape a sh:NodeShape ;
  sh:property [ sh:path <kg:name> ; sh:minCount 1 ] .
"""

ORDER_SHAPE = "http://example.org/kg/OrderShape"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _order_seeds(spark, sf_dir, modulo=100):
    """Seed members as a DataFrame — the scale path: no driver-side
    collect; the engine joins the seed set against the store directly
    (VERDICT r1 §What's-wrong 2)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % modulo == 0)
        .select(
            F.concat(F.lit("o:"), F.col("o_orderkey")).alias("entity"),
            F.lit(IRI).cast("tinyint").alias("entity_kind"),
            F.col("o_orderkey").cast("long").alias("input_idx"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: bulk shape-guided extraction (CBD + blank closure +
    nodeLink recursion) over triples synthesized from sf0.001."""
    sf_dir = DEFAULT_SF_DIR
    triples = tpch_triples(spark, sf_dir)
    shapes = ShapesGraph.from_quads(parse_trig(ORDER_SHAPE_TTL))
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    seeds = _order_seeds(spark, sf_dir, modulo=500)
    results, _ = ex.extract(triples, seeds, shape=Term(IRI, ORDER_SHAPE))
    return results.select(
        "entity", "subject", "predicate", "object_value"
    ).orderBy("entity", "subject", "predicate", "object_value")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_cbd_blank_closure(spark, sf_dir):
    triples = tpch_triples(spark, sf_dir)
    ex = BulkCBDShapeExtractor(spark)
    results, _ = ex.extract(triples, _order_seeds(spark, sf_dir))
    return results.select(
        "entity", "subject", "predicate", "object_value"
    )


def _q_shape_extract_order(spark, sf_dir):
    triples = tpch_triples(spark, sf_dir)
    shapes = ShapesGraph.from_quads(parse_trig(ORDER_SHAPE_TTL))
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes)
    results, _ = ex.extract(
        triples, _order_seeds(spark, sf_dir), shape=Term(IRI, ORDER_SHAPE)
    )
    return results.select("entity", "subject", "predicate", "object_value")


def _q_kbo_bulk_extract(spark, sf_dir):
    """Bulk shape-guided extraction of EVERY member of a KBO-style
    corpus (one ~14-quad member per orders row) in one job — the
    reference's perf scenario (perf/perftest-inband.js) generalized."""
    triples, members = kbo_members(spark, sf_dir)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    # store_distinct: kbo_members synthesizes a duplicate-free store, so
    # the engine's final dedup narrows to the (empty) named-graph slice
    # and the output path runs shuffle-free (see extractor ctor doc).
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes, store_distinct=True)
    # members_distinct: kbo_members yields one seed per orders key —
    # deterministic value-derived ids, no seed-set checkpoint barrier
    results, _ = ex.extract(triples, members, shape=Term(IRI, KBO_SHAPE_IRI),
                            members_distinct=True)
    return results.select("entity", "subject", "predicate", "object_value")


def _store_local_extract(spark, triples, members, shapes, shape):
    """Store-local extraction as the KG pipeline runs it: the corpus is
    bucketed by store once (materialize_store), the sink-fused kernel
    (extract_store_files_to_store) reads each bucket file, extracts and
    writes its result file in the Python worker, and the result files
    are read back."""
    import tempfile

    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store,
        materialize_store,
    )

    root = tempfile.mkdtemp(prefix="store_local_")
    t2, m2 = with_store_key(triples, members)
    store = materialize_store(t2, m2, os.path.join(root, "store"))
    out = os.path.join(root, "out")
    extract_store_files_to_store(
        spark, store, out, shapes_graph=shapes, shape=shape).collect()
    return spark.read.parquet(out).select(
        "entity", "subject", "predicate", "object_value")


def _q_kbo_bulk_extract_local(spark, sf_dir):
    """Same extraction as kbo_bulk_extract through the store-local
    engine (bucket by store once, then the sink-fused per-bucket
    kernel) — the physical strategy for store-partitioned corpora; same
    oracle."""
    triples, members = kbo_members(spark, sf_dir)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    return _store_local_extract(spark, triples, members, shapes,
                                Term(IRI, KBO_SHAPE_IRI))


def _q_kbo_bulk_extract_inverse(spark, sf_dir):
    """kbo_bulk_extract with an INVERSE match path (reference's
    CBDAndShaclExtended regime, perf/resources/shacl-kbo.ttl:163-166):
    each member gains 2 incoming kbo:memberOf edges reachable only
    through ^kbo:memberOf. The global engine serves the inverse hop
    from its object-keyed store copy (built once, reused per wave —
    test_inverse_join_uses_object_keyed_copy pins the plan)."""
    from extract_cbd_shape_spark.operators.kgtriples import KBO_SHAPE_INV_TTL

    triples, members = kbo_members(spark, sf_dir, inverse_edges=2)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_INV_TTL))
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes,
                               store_distinct=True)
    results, _ = ex.extract(triples, members, shape=Term(IRI, KBO_SHAPE_IRI),
                            members_distinct=True)
    return results.select("entity", "subject", "predicate", "object_value")


def _q_kbo_bulk_extract_local_inv(spark, sf_dir):
    """kbo_bulk_extract_inverse through the store-local engine: the
    vectorized CSR kernel serves the ^kbo:memberOf hop from its
    object-sorted second CSR (in-bucket analogue of the reference's
    POSG ordering, lib/Utils.ts:10-23) — no per-member Python, no
    interpreter fallback (r3 kernel extension). Same oracle as the
    global-engine inverse query."""
    from extract_cbd_shape_spark.operators.kgtriples import KBO_SHAPE_INV_TTL

    triples, members = kbo_members(spark, sf_dir, inverse_edges=2)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_INV_TTL))
    return _store_local_extract(spark, triples, members, shapes,
                                Term(IRI, KBO_SHAPE_IRI))


def _q_kbo_bulk_extract_local_ext(spark, sf_dir):
    """kbo_bulk_extract_local with the EXTENDED shape (2-hop sequence
    path + forward alternative — the reference's escalated perf regime,
    perf/resources/shacl-kbo.ttl LegalEntityShapeExtended): exercises
    the vectorized kernel's chained-gather path. The sequence's hop-2
    witnesses land on the blank address the CBD closure already walks,
    so the quad output — and the oracle — equals the base shape."""
    from extract_cbd_shape_spark.operators.kgtriples import (
        KBO_SHAPE_EXT_IRI,
        KBO_SHAPE_EXT_TTL,
    )

    triples, members = kbo_members(spark, sf_dir)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_EXT_TTL))
    return _store_local_extract(spark, triples, members, shapes,
                                Term(IRI, KBO_SHAPE_EXT_IRI))


def _q_path_closure(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.withColumn("dst", F.lead("o_orderkey").over(w))
        .filter(F.col("dst").isNotNull())
        .select(F.col("o_orderkey").alias("src"), "dst")
    )
    seeds = orders.groupBy("o_custkey").agg(F.min("o_orderkey").alias("node")).select(
        "node"
    )
    return transitive_closure(edges, seeds).select(
        F.col("seed").alias("seed"), F.col("node").alias("node")
    )


def _q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_q3_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(F.col("l_orderkey").alias("orderkey"), "revenue")
    )


def _q_top_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "rank",
        )
    )


def _q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def _q_events_sessions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("timestampdiff(MICROSECOND, _lag_ts, ts)")
    return (
        e.withColumn("_lag_ts", F.lag("ts").over(w))
        .withColumn("new_session", F.when(gap > 1800 * 1_000_000, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("new_session") + 1).alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# DuckDB mirror of functions/urls.py::canonical_url over the messy-url
# synthesis of _messy_urls (shared contract — keep the three in sync).
_URL_SPLIT_SQL = (
    r"^([A-Za-z][A-Za-z0-9+.-]*):\/\/([^\/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"
)
_URL_TRACK_SQL = r"^(utm_[a-z0-9_]*|fbclid|gclid|ref)="
_URL_CANON_CTES = f"""m AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 1 THEN 'HTTP' ELSE 'http' END
     || '://WWW.Example.COM'
     || CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END
     || '/Docs/' || CAST(doc_id // 4 AS VARCHAR)
     || CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END
     || CASE WHEN doc_id % 3 = 1 THEN '?utm_source=x&b=2&a=1'
             WHEN doc_id % 3 = 2 THEN '?fbclid=abc' ELSE '' END
     || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url,
    TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts
  FROM documents
), p AS (
  SELECT doc_id, url, warc_ts,
    lower(regexp_extract(url, '{_URL_SPLIT_SQL}', 1)) AS scheme,
    lower(regexp_extract(url, '{_URL_SPLIT_SQL}', 2)) AS host0,
    regexp_extract(url, '{_URL_SPLIT_SQL}', 3) AS path0,
    regexp_extract(url, '{_URL_SPLIT_SQL}', 4) AS query0
  FROM m
), q AS (
  SELECT doc_id, url, warc_ts, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
         ELSE host0 END AS host,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path1,
    list_sort(list_filter(
      string_split(regexp_replace(query0, '^\\?', ''), '&'),
      x -> x <> '' AND NOT regexp_matches(x, '{_URL_TRACK_SQL}')
    )) AS params
  FROM p
), canon AS (
  SELECT doc_id, url, warc_ts,
    CASE WHEN scheme = '' THEN url ELSE
      scheme || '://' || host
      || (CASE WHEN path1 <> '/' THEN regexp_replace(path1, '/$', '')
               ELSE path1 END)
      || (CASE WHEN len(params) > 0
               THEN '?' || array_to_string(params, '&') ELSE '' END)
    END AS canonical_url
  FROM q
)"""


def _messy_urls(spark, sf_dir):
    """Deterministic messy crawl URLs from documents (shared contract
    with the DuckDB oracle `_MESSY_URL_SQL`): upper-cased scheme/host,
    default port, tracking query params (unordered), trailing slash,
    fragment — every equivalence class `canonical_url` normalizes.
    Path key doc_id//4 makes several raw urls share one canonical."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.when(i % 2 == 1, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://WWW.Example.COM"),
        F.when(i % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Docs/"), (i / 4).cast("long").cast("string"),
        F.when(i % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 3 == 1, F.lit("?utm_source=x&b=2&a=1"))
        .when(i % 3 == 2, F.lit("?fbclid=abc")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=i
    )
    return d.select("doc_id", url.alias("url"), ts.alias("warc_ts"))


def _q_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization + URL-level dedup in one verified result
    (merged r4 from the former url_canonical/url_dedup pairs to fit the
    driver's 50-row correctness artifact): per input doc, its canonical
    URL — scheme/host case, default ports, tracking params + param
    order, trailing slashes, fragments (functions/urls.py, pure column
    expressions, map-only) — joined with the canonical group's kept
    representative (latest crawl wins; one hash shuffle on
    canonical_url + map-side-combinable max, no window sort)."""
    from extract_cbd_shape_spark.functions.urls import canonical_url, url_dedup

    m = _messy_urls(spark, sf_dir)
    per_doc = m.select(
        "doc_id", canonical_url(F.col("url")).alias("canonical_url")
    )
    kept = url_dedup(m).select(
        "canonical_url", F.col("url").alias("kept_url")
    )
    return per_doc.join(kept, "canonical_url").select(
        "doc_id", "canonical_url", "kept_url"
    )


def _q_entity_link(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("mention"))
        .distinct()
    )
    dictionary = (
        toks.groupBy("mention")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("mention"))
        .limit(20)
        .select(
            F.col("mention").alias("surface_form"),
            F.concat(F.lit("dict:"), F.col("mention")).alias("entity_id"),
        )
    )
    return link_mentions(toks, dictionary).select("doc_id", "mention", "entity_id")


def _q_connected_components(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    star = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") / 50).cast("long") * 50).alias("dst"),
    )
    chain1 = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1000000).alias("dst")
    )
    chain2 = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("src"),
        (F.col("doc_id") + 2000000).alias("dst"),
    )
    edges = star.unionByName(chain1).unionByName(chain2)
    return connected_components(edges).orderBy("node")


def _q_shacl_report(spark, sf_dir):
    """Per-member SHACL conformance report over the KBO corpus with a
    planted non-conforming slice: orderkeys divisible by 7 lose their
    required kbo:status quad (kgtriples.kbo_members(incomplete_mod=7)).
    The report is the reference's requiredAreNotPresent evidence
    (lib/Shape.ts:92-112) rolled up to one row per member."""
    from extract_cbd_shape_spark.operators.validate import shacl_report

    triples, members = kbo_members(spark, sf_dir, incomplete_mod=7)
    shapes = ShapesGraph.from_quads(parse_trig(KBO_SHAPE_TTL))
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes,
                               store_distinct=True)
    rep = shacl_report(ex, triples, members,
                       shape=Term(IRI, KBO_SHAPE_IRI))
    return rep.select("entity", "conforms", "missing")


def _q_bgp_union_values_topk(spark, sf_dir):
    """SPARQL SELECT surface beyond the conjunctive BGP (VERDICT r4
    #4): the main pattern is the original star join (legalName +
    registeredAddress + 2-hop postCode), joined with a UNION of two
    star-pattern groups (Enterprise-typed activity stars vs status
    rows — both binding ?m/?act), seeded by an inline VALUES list on
    ?act (a broadcast hash join of the 3-row inline table), and capped
    by a deterministic ORDER BY ... LIMIT top-k (TakeOrdered, never a
    full sort). UNION compiles to UNION ALL of branch plans — no new
    shuffle class anywhere in the modifier set."""
    from extract_cbd_shape_spark.operators.bgp import bgp_match

    triples, _ = kbo_members(spark, sf_dir)
    return bgp_match(triples, [
        ("?m", "kbo:legalName", "?name"),
        ("?m", "kbo:registeredAddress", "?a"),
        ("?a", "kbo:postCode", "?pc"),
    ], union=[
        [("?m", "rdf:type", "kbo:Enterprise"),
         ("?m", "kbo:activity", "?act")],
        [("?m", "kbo:status", "?act")],
    ], values=(["?act"], [("act:7",), ("act:13",), ("kbo:Status_AC",)]),
        select=["?m", "?act", "?name", "?pc"],
        order_by=["-?pc", "-?m", "-?act"], limit=2000)


def _q_bgp_optional_filter(spark, sf_dir):
    """SPARQL SELECT core beyond the conjunctive BGP: an OPTIONAL group
    (left join on shared vars — binds kbo:status only for members with
    activity act:7, null otherwise) and a FILTER over a base binding.
    The optional group's extra pattern proves group-internal joins
    happen BEFORE the left join (SPARQL compatible-solution rule)."""
    from extract_cbd_shape_spark.operators.bgp import bgp_match

    triples, _ = kbo_members(spark, sf_dir)
    return bgp_match(triples, [
        ("?m", "kbo:legalName", "?name"),
        ("?m", "kbo:registeredAddress", "?a"),
        ("?a", "kbo:postCode", "?pc"),
    ], optional=[[("?m", "kbo:activity", "act:7"),
                  ("?m", "kbo:status", "?st7")]],
        filters=["pc < '5000'"],
        select=["?m", "?name", "?pc", "?st7"])


def _q_pages_triples(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    return extract_page_triples(pages).select(
        "subject",
        F.col("subject_kind").cast("int").alias("subject_kind"),
        "predicate",
        "object_value",
        F.col("object_kind").cast("int").alias("object_kind"),
    )


def _q_pages_text_identity(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    return extract_page_text(pages).select("url", "extracted_text")


def _q_nquads_roundtrip(spark, sf_dir):
    """Distributed N-Quads text source (sources/nquads.py): serialize a
    deterministic quad set to N-Quads lines (sinks/nquads.py) and parse
    it back with the JVM-columnar reader. The oracle produces the same
    quads straight from `orders` and never sees the serialization, so
    hash equality proves serialize -> parse is the identity — incl.
    ECHAR escapes, lang tags, datatypes, blank nodes, named/blank
    graphs. Reference ingest surface: rdf-dereference streaming parse
    (tests/03 .../without-shape.test.ts:58-66), here as a splittable
    spark.read.text scan."""
    from extract_cbd_shape_spark.sinks.nquads import to_nquads
    from extract_cbd_shape_spark.sources.nquads import parse_nquads_lines

    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    xsd_i = "http://www.w3.org/2001/XMLSchema#integer"
    lang_dt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    s = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").cast("string").alias("k"),
            F.col("o_custkey").cast("string").alias("c"),
            F.col("o_orderstatus").alias("cm"),
            F.col("o_orderpriority").alias("pr"),
        )
    )

    def q(subj, skind, pred, oval, okind, lang, dtype, graph, gkind):
        return s.select(
            subj.alias("subject"),
            F.lit(skind).cast("byte").alias("subject_kind"),
            F.lit(pred).alias("predicate"),
            oval.alias("object_value"),
            F.lit(okind).cast("byte").alias("object_kind"),
            (F.lit(lang) if lang else F.lit(None)).cast("string")
            .alias("object_lang"),
            (F.lit(dtype) if dtype else F.lit(None)).cast("string")
            .alias("object_datatype"),
            (graph if graph is not None else F.lit(None)).cast("string")
            .alias("graph"),
            (F.lit(gkind) if gkind is not None else F.lit(None))
            .cast("byte").alias("graph_kind"),
        )

    k, c = F.col("k"), F.col("c")
    quads = (
        # every ECHAR escape in one literal: quote, LF, TAB, backslash
        q(F.concat(F.lit("o:"), k), 0, "ex:comment",
          F.concat(F.col("cm"), F.lit('"\n\t\\')), 2, None, xsd_s,
          None, None)
        .unionAll(q(F.concat(F.lit("o:"), k), 0, "ex:priority",
                    F.col("pr"), 2, "en", lang_dt, None, None))
        .unionAll(q(F.concat(F.lit("b"), k), 1, "ex:custkey",
                    c, 2, None, xsd_i, None, None))
        .unionAll(q(F.concat(F.lit("o:"), k), 0, "ex:cust",
                    F.concat(F.lit("c:"), c), 0, None, None,
                    F.concat(F.lit("g:"), k), 0))
        .unionAll(q(F.concat(F.lit("o:"), k), 0, "ex:self",
                    F.concat(F.lit("o:"), k), 0, None, None,
                    F.concat(F.lit("bg"), k), 1))
    )
    parsed = parse_nquads_lines(to_nquads(quads))
    return parsed.select(
        "subject", F.col("subject_kind").cast("int").alias("subject_kind"),
        "predicate", "object_value",
        F.col("object_kind").cast("int").alias("object_kind"),
        "object_lang", "object_datatype", "graph",
        F.col("graph_kind").cast("int").alias("graph_kind"),
    )


def _q_turtle_roundtrip(spark, sf_dir):
    """Distributed Turtle/TriG source (sources/turtle.py): synthesize a
    deterministic Turtle document per sampled orders row — prefixed
    names, plain/lang/integer/ECHAR-escaped literals, an IRI object, an
    explicit blank-node label, and a TriG named-graph block — parse
    them file-per-task with the worker-side parser, and compare against
    an oracle that produces the same quads straight from `orders`
    (which never sees the serialization): hash equality proves
    serialize -> distributed-parse is the identity, including the
    md5(src)-scoped blank labels (two documents' _:a must not merge).
    Reference ingest surface: every fixture loads .ttl via
    rdf-dereference (tests/03 .../without-shape.test.ts:58-66)."""
    from extract_cbd_shape_spark.sources.turtle import parse_turtle_documents

    s = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").cast("string").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.col("o_orderpriority").alias("pr"),
            F.col("o_custkey").cast("string").alias("c"),
        )
    )
    k = F.col("k")
    nl = F.lit("\n")
    text = F.concat(
        F.lit("@prefix ex: <http://example.org/> ."), nl,
        F.lit("ex:o"), k, F.lit(' ex:status "'), F.col("st"), F.lit('" ;'), nl,
        F.lit('  ex:prio "'), F.col("pr"), F.lit('"@en ;'), nl,
        F.lit("  ex:cust <http://c.example/"), F.col("c"), F.lit("> ;"), nl,
        F.lit("  ex:addr _:a ."), nl,
        F.lit("_:a ex:pc "), k, F.lit(' ; ex:tag "x\\ny" .'), nl,
        F.lit("ex:g"), k, F.lit(" { ex:o"), k, F.lit(" ex:in ex:q . }"), nl,
    )
    docs = s.select(F.concat(F.lit("doc:"), k).alias("src"),
                    text.alias("text"))
    parsed = parse_turtle_documents(docs)
    return parsed.select(
        "subject", F.col("subject_kind").cast("int").alias("subject_kind"),
        "predicate", "object_value",
        F.col("object_kind").cast("int").alias("object_kind"),
        "object_lang", "object_datatype", "graph",
        F.col("graph_kind").cast("int").alias("graph_kind"),
    )


def _q_bgp_path(spark, sf_dir):
    """SPARQL property paths through the BGP surface (operators/bgp.py
    parse_path -> the extraction engine's own Path algebra): a 2-hop
    sequence composed with a one-or-more closure —
    ``kbo:activity/kg:nextAct+`` over the KBO graph plus a synthetic
    45-edge next-activity chain (ids ending in 9 have no out-edge, so
    the graph is five disjoint ACYCLIC 10-node chains; the closure
    runs the pointer-jumping transitive-closure loop on a functional
    edge set — cycle termination is covered by tests/test_bgp.py, not
    this pair). Bag semantics preserved through the
    sequence hop (two activities reaching the same target keep two
    rows); aggregated per target so the driver compare stays small
    while still hashing the full closure content."""
    from extract_cbd_shape_spark.operators.bgp import bgp_match, parse_path

    triples, _ = kbo_members(spark, sf_dir)
    nine = F.col("id") % 10
    chain = (
        spark.range(0, 50)
        .filter(nine != 9)
        .select(
            F.concat(F.lit("act:"), F.col("id")).alias("subject"),
            F.lit(IRI).cast("tinyint").alias("subject_kind"),
            F.lit("kg:nextAct").alias("predicate"),
            F.concat(F.lit("act:"), F.col("id") + 1).alias("object_value"),
            F.lit(IRI).cast("tinyint").alias("object_kind"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("graph"),
            F.lit(None).cast("tinyint").alias("graph_kind"),
        )
    )
    g = triples.unionByName(chain)
    sol = bgp_match(g, [
        ("?m", "kbo:legalName", "?name"),
        ("?m", parse_path("kbo:activity/kg:nextAct+"), "?act"),
    ], select=["?m", "?act"])
    return sol.groupBy("act").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("m").alias("n_members"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The query/oracle pairs (oracle_sql() has one per key), ordered
    cheap-to-expensive so a
    time-capped run drops the heavy extraction-engine variants last."""
    return {
        # -- relational core (cheap scans/aggs/windows) -------------------
        "q1_pricing": _q_q1_pricing,
        "q3_revenue": _q_q3_revenue,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        # -- curation: url -------------------------------------------------
        "url_canonical_dedup": _q_url_canonical_dedup,
        # -- linking, canonicalization -------------------------------------
        "entity_link": _q_entity_link,
        "connected_components": _q_connected_components,
        # -- sources/sinks: pages, N-Quads, Turtle -------------------------
        "pages_extract_triples": _q_pages_triples,
        "pages_text_identity": _q_pages_text_identity,
        "nquads_roundtrip": _q_nquads_roundtrip,
        "turtle_roundtrip": _q_turtle_roundtrip,
        # -- SPARQL-side consumption ---------------------------------------
        "bgp_union_values_topk": _q_bgp_union_values_topk,
        "bgp_optional_filter": _q_bgp_optional_filter,
        "bgp_path": _q_bgp_path,
        # -- extraction engines (heaviest pairs last) ----------------------
        "path_closure": _q_path_closure,
        "cbd_blank_closure": _q_cbd_blank_closure,
        "shape_extract_order": _q_shape_extract_order,
        "shacl_report": _q_shacl_report,
        "kbo_bulk_extract": _q_kbo_bulk_extract,
        "kbo_bulk_extract_local": _q_kbo_bulk_extract_local,
        "kbo_bulk_extract_local_ext": _q_kbo_bulk_extract_local_ext,
        "kbo_bulk_extract_inverse": _q_kbo_bulk_extract_inverse,
        "kbo_bulk_extract_local_inv": _q_kbo_bulk_extract_local_inv,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_SEEDS_CTE = "seeds AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 100 = 0)"

_CBD_ORACLE = f"""
WITH {ORACLE_TRIPLES_CTE.strip().rstrip()},
{_SEEDS_CTE}
SELECT * FROM (
  SELECT 'o:'||k AS entity, t.subject, t.predicate, t.object_value
  FROM seeds JOIN triples t ON t.subject = 'o:'||k
  UNION
  SELECT 'o:'||l.l_orderkey, t.subject, t.predicate, t.object_value
  FROM seeds JOIN lineitem l ON l.l_orderkey = k
  JOIN triples t ON t.subject = 'l:'||l.l_orderkey||':'||l.l_linenumber
)
"""

_SHAPE_ORACLE = f"""
WITH {ORACLE_TRIPLES_CTE.strip()},
{_SEEDS_CTE}
SELECT DISTINCT * FROM (
  SELECT 'o:'||k AS entity, t.subject, t.predicate, t.object_value
  FROM seeds JOIN triples t ON t.subject = 'o:'||k
  UNION
  SELECT 'o:'||l.l_orderkey, t.subject, t.predicate, t.object_value
  FROM seeds JOIN lineitem l ON l.l_orderkey = k
  JOIN triples t ON t.subject = 'l:'||l.l_orderkey||':'||l.l_linenumber
  UNION
  SELECT 'o:'||o.o_orderkey, t.subject, t.predicate, t.object_value
  FROM seeds JOIN orders o ON o.o_orderkey = k
  JOIN triples t ON t.subject = 'c:'||o.o_custkey
  UNION
  SELECT 'o:'||o.o_orderkey, t.subject, t.predicate, t.object_value
  FROM seeds JOIN orders o ON o.o_orderkey = k
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN triples t ON t.subject = 'n:'||c.c_nationkey
)
"""

# Expected quads of the KBO shape over kgtriples.kbo_members: every
# member's own quads plus its blank address's two quads.
_KBO_ROWS = """\
  SELECT k, 'm:'||k AS subject, 'rdf:type' AS predicate,
         'kbo:legalEntity' AS object_value FROM m
  UNION ALL SELECT k, 'm:'||k, 'rdf:type', 'kbo:Enterprise' FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:isVersionOf', 'v:'||k FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:companyStatus',
            'kbo:JuridicalSituation_000' FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:companyType',
            'kbo:JuridicalForm_014' FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:legalName', 'Company '||k FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:registeredAddress', 'a:'||k FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:activity', 'act:'||(k % 50) FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:activity', 'act:'||((k + 7) % 50) FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:activity', 'act:'||((k + 13) % 50) FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:establishment', 'e:'||k FROM m
  UNION ALL SELECT k, 'm:'||k, 'kbo:status', 'kbo:Status_AC' FROM m
  UNION ALL SELECT k, 'a:'||k, 'kbo:fullAddress', 'Street '||k FROM m
  UNION ALL SELECT k, 'a:'||k, 'kbo:postCode', (k % 9999)::VARCHAR FROM m
"""
_KBO_HEAD = """
WITH m AS (SELECT o_orderkey AS k FROM orders)
SELECT 'm:'||k AS entity, subject, predicate, object_value FROM (
"""
_KBO_ORACLE = _KBO_HEAD + _KBO_ROWS + ")\n"
# inverse shape: the same quads plus the member's two incoming
# kbo:memberOf edges (the ^kbo:memberOf match witnesses)
_KBO_INVERSE_ORACLE = _KBO_HEAD + _KBO_ROWS + """\
  UNION ALL SELECT k, 'p:'||k||':0', 'kbo:memberOf', 'm:'||k FROM m
  UNION ALL SELECT k, 'p:'||k||':1', 'kbo:memberOf', 'm:'||k FROM m
)
"""


def oracle_sql() -> dict[str, str]:
    out = {
        "cbd_blank_closure": _CBD_ORACLE,
        "shape_extract_order": _SHAPE_ORACLE,
        "kbo_bulk_extract": _KBO_ORACLE,
        "kbo_bulk_extract_inverse": _KBO_INVERSE_ORACLE,
        "path_closure": """
WITH RECURSIVE edges AS (
  SELECT o_orderkey AS src,
         lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
  FROM orders
), seeds AS (
  SELECT min(o_orderkey) AS node FROM orders GROUP BY o_custkey
), reach AS (
  SELECT node AS seed, node FROM seeds
  UNION
  SELECT r.seed, e.dst FROM reach r JOIN edges e ON e.src = r.node
  WHERE e.dst IS NOT NULL
)
SELECT seed, node FROM reach
""",
        "q1_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "q3_revenue": """
SELECT l.l_orderkey AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY l.l_orderkey
""",
        "top_orders_per_customer": """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       round(o_totalprice, 2) AS totalprice, rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
""",
        "events_hourly": """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2
""",
        "events_sessions": """
SELECT user_id,
       (sum(CASE WHEN gap > 1800 * 1000000 THEN 1 ELSE 0 END) + 1)::BIGINT
           AS n_sessions,
       count(*) AS n_events
FROM (
  SELECT user_id,
         date_diff('microsecond', lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
  FROM events
) GROUP BY user_id
""",
        "url_canonical_dedup": f"""
WITH {_URL_CANON_CTES},
kept AS (SELECT canonical_url, arg_max(url, warc_ts) AS kept_url
         FROM canon GROUP BY canonical_url)
SELECT c.doc_id, c.canonical_url, k.kept_url
FROM canon c JOIN kept k USING (canonical_url)
""",
        "entity_link": f"""
WITH toks AS (SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS mention
              FROM documents),
dict AS (SELECT mention AS surface_form, 'dict:' || mention AS entity_id
         FROM (SELECT mention, count(*) AS df FROM toks GROUP BY mention
               ORDER BY df DESC, mention LIMIT 20))
SELECT t.doc_id, t.mention, d.entity_id
FROM toks t JOIN dict d ON t.mention = d.surface_form
""",
        "connected_components": """
WITH nodes AS (
  SELECT doc_id AS node FROM documents
  UNION ALL SELECT (doc_id // 50) * 50
  FROM documents WHERE NOT EXISTS (
      SELECT 1 FROM documents d2 WHERE d2.doc_id = (documents.doc_id // 50) * 50)
  UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 7 = 0
)
SELECT DISTINCT node,
       CASE WHEN node >= 2000000 THEN ((node - 2000000) // 50) * 50
            WHEN node >= 1000000 THEN ((node - 1000000) // 50) * 50
            ELSE (node // 50) * 50 END AS component
FROM nodes ORDER BY node
""",
        "shacl_report": """
SELECT 'm:'||o_orderkey AS entity,
       (o_orderkey % 7 <> 0) AS conforms,
       CASE WHEN o_orderkey % 7 = 0 THEN '<kbo:status>' END AS missing
FROM orders
""",
        "bgp_union_values_topk": """
WITH m AS (SELECT o_orderkey AS k FROM orders),
acts AS (
  SELECT k, 'act:'||(k % 50) AS act FROM m
  UNION ALL SELECT k, 'act:'||((k + 7) % 50) FROM m
  UNION ALL SELECT k, 'act:'||((k + 13) % 50) FROM m
),
u AS (
  SELECT k, act FROM acts
  UNION ALL
  SELECT k, 'kbo:Status_AC' AS act FROM m
)
SELECT 'm:'||k AS m, act, 'Company '||k AS name, (k % 9999)::VARCHAR AS pc
FROM u
WHERE act IN ('act:7', 'act:13', 'kbo:Status_AC')
ORDER BY pc DESC, m DESC, act DESC
LIMIT 2000
""",
        "bgp_optional_filter": """
WITH m AS (SELECT o_orderkey AS k FROM orders)
SELECT 'm:'||k AS m, 'Company '||k AS name, (k % 9999)::VARCHAR AS pc,
       CASE WHEN (k % 50) = 7 OR ((k + 7) % 50) = 7
                 OR ((k + 13) % 50) = 7
            THEN 'kbo:Status_AC' END AS st7
FROM m
WHERE (k % 9999)::VARCHAR < '5000'
""",
        "pages_extract_triples": f"""
WITH b AS (SELECT doc_id, lang, source, {_TOKS_SQL} AS t,
           '_:' || substr(md5('https://corpus.test/' || source || '/' || doc_id), 1, 16)
             || ':b0' AS blank,
           '_:' || substr(md5('https://corpus.test/' || source || '/' || doc_id), 1, 16)
             || ':md0' AS mdblank,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS rdftype
           FROM documents)
SELECT * FROM (
  SELECT 'doc:' || doc_id AS subject, 0 AS subject_kind,
         'kg:lang' AS predicate, lang AS object_value, 2 AS object_kind FROM b
  UNION ALL
  SELECT 'doc:' || doc_id, 0, 'kg:source', source, 2 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id, 0, 'kg:mentions', unnest(t[1:5]), 2 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id, 0, 'kg:author', blank, 1 FROM b
  UNION ALL
  SELECT blank, 1, 'kg:name', 'author-' || (doc_id % 1000), 2 FROM b
  UNION ALL
  -- microdata block (itemscope with itemid + vocab-resolved itemprops)
  SELECT 'doc:' || doc_id || '#article', 0, rdftype,
         'https://schema.org/Article', 0 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id || '#article', 0, 'https://schema.org/name',
         'doc-' || doc_id, 2 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id || '#article', 0, 'https://schema.org/isPartOf',
         'https://corpus.test/' || source, 0 FROM b
  UNION ALL
  -- microdata item WITHOUT itemid -> page-scoped blank node
  SELECT mdblank, 1, rdftype, 'https://schema.org/Person', 0 FROM b
  UNION ALL
  SELECT mdblank, 1, 'https://schema.org/name',
         'author-' || (doc_id % 1000), 2 FROM b
  UNION ALL
  -- RDFa Lite block (about / typeof / property)
  SELECT 'doc:' || doc_id, 0, rdftype, 'https://schema.org/WebPage', 0 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id, 0, 'https://schema.org/inLanguage', lang, 2 FROM b
  UNION ALL
  SELECT 'doc:' || doc_id, 0, 'https://schema.org/publisher',
         'https://corpus.test/' || source, 0 FROM b
)
""",
        "pages_text_identity": """
SELECT 'https://corpus.test/' || source || '/' || doc_id AS url,
       text AS extracted_text
FROM documents
""",
        # The oracle builds the expected quads straight from `orders`
        # and never sees the N-Quads text — equality proves the Spark
        # side's serialize -> parse loop is the identity.
        "nquads_roundtrip": """
WITH s AS (
  SELECT o_orderkey::VARCHAR AS k, o_custkey::VARCHAR AS c,
         o_orderstatus AS cm, o_orderpriority AS pr
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT * FROM (
  SELECT 'o:'||k AS subject, 0 AS subject_kind,
         'ex:comment' AS predicate,
         cm || '"' || chr(10) || chr(9) || '\\' AS object_value,
         2 AS object_kind, NULL AS object_lang,
         'http://www.w3.org/2001/XMLSchema#string' AS object_datatype,
         NULL AS graph, NULL AS graph_kind FROM s
  UNION ALL SELECT 'o:'||k, 0, 'ex:priority', pr, 2, 'en',
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString',
         NULL, NULL FROM s
  UNION ALL SELECT 'b'||k, 1, 'ex:custkey', c, 2, NULL,
         'http://www.w3.org/2001/XMLSchema#integer', NULL, NULL FROM s
  UNION ALL SELECT 'o:'||k, 0, 'ex:cust', 'c:'||c, 0, NULL, NULL,
         'g:'||k, 0 FROM s
  UNION ALL SELECT 'o:'||k, 0, 'ex:self', 'o:'||k, 0, NULL, NULL,
         'bg'||k, 1 FROM s
)
""",
        # The oracle never sees the Turtle serialization: it produces
        # the same quads straight from `orders` (blank labels scoped
        # with the SAME md5(src)[:16] skolem the source applies).
        "turtle_roundtrip": """
WITH s AS (
  SELECT o_orderkey::VARCHAR AS k, o_orderstatus AS st,
         o_orderpriority AS pr, o_custkey::VARCHAR AS c,
         substr(md5('doc:' || o_orderkey::VARCHAR), 1, 16) AS fp
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT * FROM (
  SELECT 'http://example.org/o'||k AS subject, 0 AS subject_kind,
         'http://example.org/status' AS predicate, st AS object_value,
         2 AS object_kind, NULL AS object_lang,
         'http://www.w3.org/2001/XMLSchema#string' AS object_datatype,
         NULL AS graph, NULL AS graph_kind FROM s
  UNION ALL SELECT 'http://example.org/o'||k, 0,
         'http://example.org/prio', pr, 2, 'en',
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString',
         NULL, NULL FROM s
  UNION ALL SELECT 'http://example.org/o'||k, 0,
         'http://example.org/cust', 'http://c.example/'||c, 0,
         NULL, NULL, NULL, NULL FROM s
  UNION ALL SELECT 'http://example.org/o'||k, 0,
         'http://example.org/addr', fp||':a', 1,
         NULL, NULL, NULL, NULL FROM s
  UNION ALL SELECT fp||':a', 1, 'http://example.org/pc', k, 2,
         NULL, 'http://www.w3.org/2001/XMLSchema#integer',
         NULL, NULL FROM s
  UNION ALL SELECT fp||':a', 1, 'http://example.org/tag',
         'x' || chr(10) || 'y', 2,
         NULL, 'http://www.w3.org/2001/XMLSchema#string',
         NULL, NULL FROM s
  UNION ALL SELECT 'http://example.org/o'||k, 0,
         'http://example.org/in', 'http://example.org/q', 0,
         NULL, NULL, 'http://example.org/g'||k, 0 FROM s
)
""",
        # Closure mirror: from act a, nextAct+ reaches a+1 .. end of
        # a's decade (the chain stops before every act ending in 9).
        # Bag semantics through the sequence hop: one row per
        # (member, source-activity, reached-activity).
        "bgp_path": """
WITH m AS (SELECT o_orderkey AS k FROM orders),
acts AS (SELECT k, unnest([k % 50, (k + 7) % 50, (k + 13) % 50]) AS a FROM m),
reach AS (SELECT a, unnest(range(a + 1, (a // 10) * 10 + 10)) AS r
          FROM (SELECT DISTINCT a FROM acts))
SELECT 'act:' || r AS act,
       count(*) AS n_rows,
       count(DISTINCT k) AS n_members
FROM acts JOIN reach USING (a)
GROUP BY 1
""",
    }
    # The store-local engine and the extended shape (sequence +
    # alternative: its chain witnesses are quads the base extraction
    # already emits) expect the same quad sets as the global engine.
    out["kbo_bulk_extract_local"] = out["kbo_bulk_extract"]
    out["kbo_bulk_extract_local_ext"] = out["kbo_bulk_extract"]
    out["kbo_bulk_extract_local_inv"] = out["kbo_bulk_extract_inverse"]
    return out
