"""One Python worker pool per application.

Spark keeps one ``pyspark.daemon`` per distinct worker setup. The SQL
runners of the page parse (``mapInPandas``) and of the sink
(``mapInArrow``) share one; an RDD-level ``PythonRDD`` sets other
worker environment variables and gets a second daemon with workers of
its own. ``spark.createDataFrame(list)`` runs such a ``PythonRDD`` (it
re-pickles the rows in Python tasks), so every driver-side list enters
Spark through ``model.rows_to_df`` instead, as an Arrow stream.

The first tests check each call site's DataFrames: the exact schema the
list path gave (names, types, nullability, empty input included) and no
``PythonRDD`` in their RDD lineage. The last test counts the worker
pools of a fresh application after a pipeline run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from extract_cbd_shape_spark.model import IRI, Quad, Term, quad_schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

# The schemas the list-built frames had, as DDL (parsed with a session).
MEMBERS = ("member_id long, entity string, entity_kind tinyint, "
           "shape_key string, input_idx long")
IGNORES = "member_id long, graph string"
NODES = "node string"
CLI_MEMBERS = "entity string, entity_kind tinyint, input_idx long"


@pytest.fixture
def created(monkeypatch):
    """Every DataFrame built by ``SparkSession.createDataFrame`` while
    the test runs, in order."""
    frames = []
    orig = SparkSession.createDataFrame

    def record(self, *args, **kwargs):
        df = orig(self, *args, **kwargs)
        frames.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", record)
    return frames


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _jvm_schema(df) -> T.StructType:
    """The schema the JVM holds (``df.schema`` may be the one passed in)."""
    return T._parse_datatype_json_string(df._jdf.schema().json())


def _check(frames, schemas):
    """``frames`` have exactly ``schemas`` (StructTypes or DDL), in
    order, on the JVM side, and run no Python worker to produce their
    rows."""
    assert [_jvm_schema(f) for f in frames] == [
        T.StructType.fromDDL(s) if isinstance(s, str) else s
        for s in schemas]
    for f in frames:
        assert not _python_rdd(f), f.schema.simpleString()
        f.collect()


def _triples(spark):
    """A tiny quad store built without any Python worker."""
    return spark.sql(
        "SELECT * FROM VALUES "
        "('x:a', CAST(0 AS TINYINT), 'x:p', 'x:b', "
        "CAST(0 AS TINYINT), CAST(NULL AS STRING), CAST(NULL AS STRING), "
        "CAST(NULL AS STRING), CAST(NULL AS TINYINT)) AS t(" + ", ".join(
            f.name for f in quad_schema().fields) + ")")


@pytest.mark.parametrize("n", [3, 0])
def test_connected_components_driver_frame(spark, tmp_path, n):
    from extract_cbd_shape_spark.operators.closure import (
        connected_components_driver,
    )

    path = str(tmp_path / "edges")
    spark.sql(
        "SELECT * FROM VALUES ('a', 'b'), ('b', 'c'), ('x', 'y') "
        "AS t(src, dst)").limit(n).write.parquet(path)
    out = connected_components_driver(spark.read.parquet(path))
    _check([out], ["node string, component string"])
    assert out.count() == (5 if n else 0)


@pytest.mark.parametrize("n", [1, 0])
def test_quads_to_df_frame(spark, n):
    from extract_cbd_shape_spark.sources.fixtures import quads_to_df

    quads = [Quad(Term.iri("http://x/a"), Term.iri("http://x/p"),
                  Term.literal("v", lang="en"), Term.blank("g"))][:n]
    out = quads_to_df(spark, quads)
    _check([out], [quad_schema()])
    assert out.count() == n


def test_member_and_ignore_frames(spark):
    from extract_cbd_shape_spark.operators.extract import (
        BulkCBDShapeExtractor,
        Member,
        _Run,
    )

    ex = BulkCBDShapeExtractor(spark)
    run = _Run(ex, _triples(spark),
               [Member(Term.iri("http://x/a"), None,
                       (Term.iri("http://x/g"),))], bulk=True)
    _check([run.members_df, run.ignored_pairs], [MEMBERS, IGNORES])
    empty = _Run(ex, _triples(spark), [], bulk=False)
    _check([empty.members_df], [MEMBERS])


def test_resolver_quad_frame(spark, created):
    from extract_cbd_shape_spark.operators.extract import (
        BulkCBDShapeExtractor,
    )
    from extract_cbd_shape_spark.rdf import parse_trig
    from extract_cbd_shape_spark.sources.fixtures import quads_to_df
    from tests.test_semantic_fixtures import CASES, _load, _shapes

    case = CASES["out_of_band_flag"]
    shapes, shape = _shapes(case)
    data = _load("out_of_band_flag")
    resolver = {node: parse_trig(ttl)
                for node, ttl in case["resolver"].items()}
    del created[:]
    ex = BulkCBDShapeExtractor(spark, shapes_graph=shapes,
                               resolver=resolver)
    res, _ = ex.extract(quads_to_df(spark, data),
                        [Term(IRI, m) for m in case["members"]],
                        shape=shape)
    res.collect()
    # the store, the members of each round, the resolved quads
    _check(created, [quad_schema(), MEMBERS, quad_schema(), MEMBERS])


@pytest.mark.parametrize("pattern, schemas", [
    # p? with a constant end: the constant's zero-length solution
    ("p?", [NODES]),
    # p+ from a constant: the constant seeds the closure
    ("p+", [NODES]),
])
def test_bgp_path_constant_frames(spark, created, pattern, schemas):
    from extract_cbd_shape_spark.operators.bgp import bgp_match, parse_path

    triples = _triples(spark)
    del created[:]
    out = bgp_match(triples, [("x:a", parse_path("x:" + pattern), "?o")])
    assert {r.o for r in out.collect()} == {"x:a", "x:b"} - (
        {"x:a"} if pattern == "p+" else set())
    _check(created, schemas)


def test_bgp_values_frame(spark, created):
    from extract_cbd_shape_spark.operators.bgp import bgp_match

    triples = _triples(spark)
    del created[:]
    out = bgp_match(triples, [("?s", "x:p", "?o")],
                    values=(["?s"], [("x:a",)]))
    assert [r.o for r in out.collect()] == ["x:b"]
    _check(created, ["s string"])


def test_cli_validate_frames(spark, created, tmp_path, capsys):
    from extract_cbd_shape_spark.cli import main

    (tmp_path / "shape.ttl").write_text(
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
        "@prefix ex: <http://example.org/> .\n"
        "ex:S a sh:NodeShape ;\n"
        "  sh:property [ sh:path ex:name ; sh:minCount 1 ] .\n")
    (tmp_path / "data.ttl").write_text(
        "@prefix ex: <http://example.org/> .\n"
        'ex:ok ex:name "A" .\n')
    assert main(["validate", "--data", str(tmp_path / "data.ttl"),
                 "--shapes", str(tmp_path / "shape.ttl"),
                 "--shape-iri", "http://example.org/S",
                 "--entity", "http://example.org/ok"]) == 0
    capsys.readouterr()
    _check(created[:2], [quad_schema(), CLI_MEMBERS])
    _check(created, [_jvm_schema(f) for f in created])


# A fresh application: the shared test session already holds list-built
# frames from other tests' own code, each of which started its pool.
_POOLS = textwrap.dedent("""
    import sys
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline
    from extract_cbd_shape_spark.sources.pages import synth_pages

    pages = synth_pages(spark, sys.argv[1]).limit(30)
    m = KGConstructionPipeline(spark, sys.argv[2]).run(pages, resume=False)
    assert m["triples"]["rows"] > 0 and m["entities"]["rows"] > 0
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    print("POOLS", env.pythonWorkers().size())
    spark.stop()
""")


def test_pipeline_run_keeps_one_worker_pool(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    p = subprocess.run(
        [sys.executable, "-c", _POOLS, SF, str(tmp_path / "wh")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    pools = [line for line in p.stdout.splitlines()
             if line.startswith("POOLS ")]
    assert pools == ["POOLS 1"], p.stdout[-2000:]
