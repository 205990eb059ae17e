"""Load driver-side quads (fixtures, TriG text) into a triples DataFrame.

Production data arrives as Parquet/Iceberg with the same flat layout
(see model.QUAD_FIELDS); this module is the small-scale on-ramp used by
tests and the shape loader.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from extract_cbd_shape_spark.model import (
    Quad,
    quad_schema,
    quad_to_row,
    rows_to_df,
)
from extract_cbd_shape_spark.rdf.trig import parse_trig


def quads_to_df(spark: SparkSession, quads: List[Quad]) -> DataFrame:
    return rows_to_df(spark, [quad_to_row(q) for q in quads], quad_schema())


def trig_to_df(spark: SparkSession, text: str, base: Optional[str] = None) -> DataFrame:
    return quads_to_df(spark, parse_trig(text, base=base))
