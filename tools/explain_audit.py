"""Physical-plan audit: assert the plans we ship are the plans we want.

For each audited query this prints the formatted plan and checks the
properties that matter at 100 TB:

* parquet scans carry PushedFilters / pruned ReadSchema (Catalyst
  pushdown reached the source);
* small dimensions broadcast (BroadcastHashJoin), big joins stay
  shuffle/sort-merge;
* the quad-heavy paths contain no Python row UDFs (only mapInPandas /
  pandas_udf where designed: page parsing, word-set validation);
* WholeStageCodegen spans cover the scan->filter->agg pipelines.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    qs = em.queries()
    failures = []

    def check(name: str, wanted: list, unwanted: list = ()):
        plan = plan_of(qs[name](spark, SF_DIR))
        probs = []
        for pat in wanted:
            if not re.search(pat, plan):
                probs.append(f"MISSING {pat}")
        for pat in unwanted:
            if re.search(pat, plan):
                probs.append(f"PRESENT {pat}")
        status = "OK " if not probs else "FAIL"
        print(f"{status} {name}: {', '.join(probs) if probs else 'plan as designed'}")
        if probs:
            failures.append(name)
            print(plan[:4000])

    # Scan-heavy agg: filter pushed to parquet, two-phase hash agg
    # (partial_sum before the exchange = map-side combine). AQE hides
    # WholeStageCodegen until execution, so assert the agg shape instead.
    check("q1_pricing", [
        r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate",
        r"partial_sum",
        r"HashAggregate",
    ], [r"BatchEvalPython"])

    # 3-way join: small dim broadcast, filters pushed to every scan.
    check("q3_revenue", [
        r"BroadcastHashJoin",
        r"PushedFilters: \[.*IsNotNull\(c_mktsegment\).*EqualTo\(c_mktsegment,BUILDING\)",
        r"PushedFilters: \[.*GreaterThan\(l_shipdate",
    ], [r"BatchEvalPython"])

    # Column pruning: entity linking reads only (doc_id, text).
    plan = plan_of(qs["entity_link"](spark, SF_DIR))
    if re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", plan):
        print("OK  entity_link: ReadSchema pruned to doc_id,text")
    else:
        failures.append("entity_link")
        print("FAIL entity_link: scan not pruned")
        print(plan[:2000])

    # Engine star-join: at this (small, driver-counted) seed scale the
    # engine's LATENCY regime broadcasts the counted frontier sides;
    # above broadcast_members_max it hash-partitions on subject (scale
    # mode, pinned by the knob=0 plan test). Either way: no Python UDF
    # anywhere in the quad path, results checkpoint-backed.
    from extract_cbd_shape_spark.operators.kgtriples import kbo_members
    from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.model import Term, IRI
    triples, members = kbo_members(spark, SF_DIR)
    ex = BulkCBDShapeExtractor(spark)
    results, _ = ex.extract(triples, members)
    plan = plan_of(results)
    probs = []
    if re.search(r"BatchEvalPython", plan):
        probs.append("row-Python in quad path")
    # The engine checkpoints each wave: the final plan must read the
    # materialized RDD (no recompute of the whole fixpoint per action).
    if not re.search(r"Scan ExistingRDD", plan):
        probs.append("results not checkpoint-backed")
    if probs:
        failures.append("cbd_results")
        print(f"FAIL cbd_results: {', '.join(probs)}")
    else:
        print("OK  cbd_results: JVM-only, checkpoint-backed result")

    # CONSTRUCT: template instantiation must stay map-side JVM work —
    # no Python anywhere, the only aggregate the final distinct.
    from extract_cbd_shape_spark.operators.bgp import bgp_construct
    g = bgp_construct(triples, [
        ("?m", "rdf:type", "kbo:Enterprise"),
        ("?m", "kbo:legalName", "?name"),
    ], template=[("?m", "kg:label", "?name")])
    plan = plan_of(g)
    probs = []
    if re.search(r"BatchEvalPython", plan):
        probs.append("row-Python in CONSTRUCT")
    if not re.search(r"HashAggregate", plan):
        probs.append("distinct not a hash aggregate")
    if probs:
        failures.append("bgp_construct")
        print(f"FAIL bgp_construct: {', '.join(probs)}")
    else:
        print("OK  bgp_construct: JVM-only projection + hash-agg distinct")

    # Store-local sink: one task per bucket file over a JVM source. No
    # Exchange, no Python-RDD scan, and exactly one Python operator, the
    # kernel's mapInArrow (a Python-RDD manifest would add a second
    # Python stage and its per-task cost).
    from extract_cbd_shape_spark.operators.kgtriples import with_store_key
    from extract_cbd_shape_spark.operators.local_extract import (
        extract_store_files_to_store,
        materialize_store,
    )
    root = tempfile.mkdtemp(prefix="sink_audit_")
    store = materialize_store(*with_store_key(triples, members),
                              os.path.join(root, "store"))
    plan = plan_of(extract_store_files_to_store(
        spark, store, os.path.join(root, "out")))
    probs = []
    if re.search(r"Exchange", plan):
        probs.append("exchange in store-local path")
    if re.search(r"Scan ExistingRDD", plan):
        probs.append("RDD-backed manifest in store-local path")
    python_ops = re.findall(
        r"^\(\d+\) (\w*(?:Python|InArrow|InPandas)\w*)", plan, re.M)
    if python_ops != ["MapInArrow"]:
        probs.append(f"Python operators {python_ops}, want one MapInArrow")
    if probs:
        failures.append("store_local_sink")
        print(f"FAIL store_local_sink: {', '.join(probs)}")
    else:
        print("OK  store_local_sink: zero-exchange single mapInArrow over "
              "a JVM source, JVM-free quads")

    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
