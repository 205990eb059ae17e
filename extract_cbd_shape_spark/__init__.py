"""extract_cbd_shape_spark — a PySpark-native knowledge-graph construction engine.

Re-creates the semantics of TREEcg/extract-cbd-shape (reference at
/root/reference, MIT) as bulk DataFrame programs:

* Concise Bounded Description (CBD) closure with blank-node recursion
  (reference lib/CBDShapeExtractor.ts:472-508) as iterative frontier
  self-joins on a subject-keyed triples DataFrame.
* SHACL shape compilation (lib/ShapesGraph.ts) on the driver, broadcast
  as plan parameters.
* SHACL path matching (lib/Path.ts) as generated join/union/fixpoint
  DataFrame plans.
* bulkExtract (lib/CBDShapeExtractor.ts:68-127) generalized: one Spark
  job extracts every member of every page.

Plus the web-scale KG-construction stages the reference doesn't have:
vectorized page->triples extraction, store-local bulk extraction
(bucket by page once, then one sink-fused task per bucket file), entity
linking, connected-components canonicalization, and snapshot
materialization. `functions/` holds the JVM-side text and URL column
helpers those stages share.
"""

__version__ = "0.1.0"

from extract_cbd_shape_spark.model import (  # noqa: F401
    IRI,
    BLANK,
    LITERAL,
    Term,
    Quad,
    QUAD_FIELDS,
    quad_schema,
)
