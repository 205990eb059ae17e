"""Per-member SHACL conformance reports over bulk extraction.

The reference computes required-path satisfaction DURING extraction —
`requiredAreNotPresent` builds an and/or tree of missing paths from the
extraction trie (lib/Shape.ts:92-112) and `extractRecursively` consumes
it to decide out-of-band dereference (lib/CBDShapeExtractor.ts:443-459).
The bulk engine reproduces that evidence as its `flags` DataFrame
(operators/extract.py::_compute_flags). This module turns the evidence
into the report a pipeline operator actually wants: ONE row per member,
`conforms` + the missing-path expression(s), covering every member —
including the fully conformant ones the flags never mention and the
empty-result members the flags mark specially.

Scope (documented honestly): conformance here is the REFERENCE'S
extraction-time notion — every required path witnessed in the member's
extraction trie, every sh:xone/sh:or list with >= 1 satisfied branch —
not a full SHACL-core validator (no cardinality upper bounds, no value
constraints; the reference has none of those either).

100 TB shape: the report is a groupBy(member) over the (sparse) flags
rows plus one left join against the member seed list — both orders of
magnitude below corpus size; the extraction itself dominates, and the
report adds no corpus-wide shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from extract_cbd_shape_spark.model import IRI, Term


def shacl_report(
    extractor,
    triples: DataFrame,
    members: DataFrame,
    shape: Optional[Term] = None,
    graphs_to_ignore: Optional[Sequence[Term]] = None,
    bulk: bool = False,
) -> DataFrame:
    """Run bulk extraction and return one report row per member:

    ``entity, entity_kind, input_idx, conforms boolean, missing string``

    ``missing`` is the ShapeError expression (lib/Shape.ts:15-31
    to_string form) — ``' && '``-joined and sorted when a member is
    flagged at several focus nodes — or NULL for a conformant member.
    ``members`` must be a DataFrame with ``entity`` / ``entity_kind`` /
    ``input_idx`` columns (the engine's member identity is
    ``xxhash64(entity, entity_kind, input_idx)``; the report recomputes
    it to cover members with zero flag rows).
    """
    mdf = members
    if "entity_kind" not in mdf.columns:
        mdf = mdf.withColumn("entity_kind", F.lit(IRI).cast("tinyint"))
    if "input_idx" not in mdf.columns:
        raise ValueError(
            "shacl_report needs an explicit input_idx column: member "
            "identity is xxhash64(entity, entity_kind, input_idx) and a "
            "monotonically_increasing_id default would not be "
            "recomputable on the report side"
        )
    _, flags = extractor.extract(
        triples, mdf, shape=shape, graphs_to_ignore=graphs_to_ignore,
        bulk=bulk,
    )
    agg = flags.groupBy("member_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("missing")), " && "
        ).alias("missing")
    )
    seed = mdf.select(
        "entity", "entity_kind", "input_idx",
        F.xxhash64("entity", "entity_kind", "input_idx").alias("member_id"),
    )
    return (
        seed.join(agg, "member_id", "left")
        .select(
            "entity", "entity_kind", "input_idx",
            F.col("missing").isNull().alias("conforms"),
            "missing",
        )
    )
