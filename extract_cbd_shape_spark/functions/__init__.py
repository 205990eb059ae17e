from extract_cbd_shape_spark.functions.text import (  # noqa: F401
    tokens,
    quality_columns,
    lang_id_column,
)
