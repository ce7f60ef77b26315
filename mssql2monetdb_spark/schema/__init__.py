from .mapper import (  # noqa: F401
    jdbc_to_spark_type,
    narrow_decimal,
    normalize_identifier,
    normalize_schema,
    normalized_dataframe,
)
