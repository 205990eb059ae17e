from extract_cbd_shape_spark.functions.text import tokens  # noqa: F401
