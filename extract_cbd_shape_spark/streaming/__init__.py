from extract_cbd_shape_spark.streaming.incremental import (  # noqa: F401
    PAGES_DDL,
    pages_stream,
    streaming_kg_construction,
)
