"""Schema-mapper rules (SURVEY §1.2): type lattice, decimal narrowing,
identifier normalization, autoTrim — pure StructType transforms."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from mssql2monetdb_spark.schema.mapper import (
    UnknownSqlTypeError,
    jdbc_to_spark_type,
    map_column,
    narrow_decimal,
    normalize_identifier,
    normalize_schema,
    normalized_dataframe,
)


@pytest.mark.parametrize(
    "jdbc,expected",
    [
        ("BIGINT", T.LongType()),
        ("BLOB", T.BinaryType()),
        ("BOOLEAN", T.BooleanType()),
        ("BIT", T.BooleanType()),
        ("CHAR", T.StringType()),
        ("NCHAR", T.StringType()),
        ("CLOB", T.StringType()),
        ("DATE", T.DateType()),
        ("DOUBLE", T.DoubleType()),
        ("FLOAT", T.DoubleType()),
        ("INTEGER", T.IntegerType()),
        ("NVARCHAR", T.StringType()),
        ("VARCHAR", T.StringType()),
        ("REAL", T.FloatType()),
        ("SMALLINT", T.ShortType()),
        ("TIME", T.StringType()),
        ("TIMESTAMP", T.TimestampType()),
        ("TINYINT", T.ByteType()),
    ],
)
def test_type_lattice(jdbc, expected):
    # MonetDBUtil.java:205-226
    assert jdbc_to_spark_type(jdbc) == expected


def test_unknown_type_errors():
    # MonetDBUtil.java:235-239: unknown type is a hard error
    with pytest.raises(UnknownSqlTypeError):
        jdbc_to_spark_type("GEOMETRY")


@pytest.mark.parametrize(
    "precision,expected",
    [
        (1, T.ByteType()),
        (2, T.ByteType()),
        (3, T.ShortType()),
        (4, T.ShortType()),
        (5, T.IntegerType()),
        (9, T.IntegerType()),
        (10, T.LongType()),
        (19, T.LongType()),
    ],
)
def test_decimal_narrowing(precision, expected):
    # MonetDBUtil.java:244-263 thresholds
    assert narrow_decimal(precision) == expected
    assert jdbc_to_spark_type("DECIMAL", precision, 0) == expected
    assert jdbc_to_spark_type("NUMERIC", precision, 0) == expected


def test_decimal_with_scale_keeps_decimal():
    assert jdbc_to_spark_type("DECIMAL", 18, 2) == T.DecimalType(18, 2)
    # Spark supports up to 38 digits; no 18-cap on the engine type
    assert jdbc_to_spark_type("NUMERIC", 38, 10) == T.DecimalType(38, 10)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Weird Col-Name!", "weird_col_name_"),  # FIXTURES.md b2 case
        ("CamelCase", "camelcase"),
        ("already_ok", "already_ok"),
        ("a  b\tc", "a_b_c"),
        ("123abc", "123abc"),
    ],
)
def test_identifier_normalization(raw, expected):
    # MonetDBUtil.java:301-310
    assert normalize_identifier(raw) == expected


def test_map_column_metadata():
    f = map_column("ID", "BIGINT", nullable=False, auto_increment=True)
    assert f.name == "id" and f.dataType == T.LongType()
    assert not f.nullable and f.metadata["auto_increment"] is True

    f = map_column("c_char", "CHAR", precision=10)
    assert f.metadata["maxlength"] == 10  # MonetDBUtil.java:268-272

    f = map_column("c_dec_9_0", "NUMERIC", precision=9, scale=0)
    assert f.dataType == T.IntegerType()
    assert f.metadata["narrowed_from"] == "DECIMAL(9,0)"


def test_normalize_schema_duplicate_collision():
    schema = T.StructType(
        [T.StructField("a b", T.IntegerType()), T.StructField("a-b", T.IntegerType())]
    )
    with pytest.raises(ValueError, match="duplicate"):
        normalize_schema(schema)


def test_normalized_dataframe_trim_and_names(spark):
    df = spark.createDataFrame(
        [(1, "  padded  ", "x")], ["ID", "S Pad", "plain"]
    )
    out = normalized_dataframe(df, auto_trim=True)
    assert out.columns == ["id", "s_pad", "plain"]
    row = out.collect()[0]
    assert row["s_pad"] == "padded"  # autoTrim ON (CopyTool.java:713-714)

    kept = normalized_dataframe(df, auto_trim=False).collect()[0]
    assert kept["s_pad"] == "  padded  "  # autoTrim OFF preserves


def test_spark_schema_to_derby_ddl():
    from mssql2monetdb_spark.schema.mapper import spark_schema_to_derby_ddl

    schema = T.StructType(
        [
            T.StructField("ID", T.LongType(), False),
            T.StructField("tiny", T.ByteType()),  # Derby has no TINYINT
            T.StructField("v", T.DecimalType(18, 6)),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BinaryType()),
        ]
    )
    assert spark_schema_to_derby_ddl(schema) == (
        '"id" BIGINT NOT NULL, "tiny" SMALLINT, "v" DECIMAL(18,6), '
        '"s" VARCHAR(4000), "b" BLOB'
    )


def test_spark_schema_to_derby_ddl_unmapped_type_is_loud():
    from mssql2monetdb_spark.schema.mapper import (
        UnknownSqlTypeError,
        spark_schema_to_derby_ddl,
    )

    schema = T.StructType([T.StructField("a", T.ArrayType(T.LongType()))])
    with pytest.raises(UnknownSqlTypeError, match="no Derby DDL mapping"):
        spark_schema_to_derby_ddl(schema)


def test_derby_readback_lattice_and_equivalence():
    """The sink DDL lattice is lossy on read-back (SMALLINT -> int per
    Spark's JdbcUtils); equivalent_in_derby must accept exactly the pairs
    the round-trip produces and nothing else (ADVICE r10 regression)."""
    from mssql2monetdb_spark.schema.mapper import (
        derby_readback_type,
        equivalent_in_derby,
    )

    assert derby_readback_type(T.ShortType()) == T.IntegerType()
    assert derby_readback_type(T.ByteType()) == T.IntegerType()
    assert derby_readback_type(T.IntegerType()) == T.IntegerType()
    assert derby_readback_type(T.DecimalType(12, 3)) == T.DecimalType(12, 3)

    # round-trip pairs: accepted
    assert equivalent_in_derby(T.IntegerType(), T.ShortType())
    assert equivalent_in_derby(T.IntegerType(), T.ByteType())
    assert equivalent_in_derby(T.StringType(), T.StringType())
    # genuine retypes: rejected
    assert not equivalent_in_derby(T.IntegerType(), T.StringType())
    assert not equivalent_in_derby(T.LongType(), T.ShortType())
    assert not equivalent_in_derby(T.IntegerType(), T.LongType())
    # unmappable incoming types are a rejection, not a crash
    assert not equivalent_in_derby(T.IntegerType(), T.ArrayType(T.LongType()))


def test_derby_maps_timestamp_ntz():
    """Derby's TIMESTAMP is zoneless: an NTZ column lands there and reads
    back as the JDBC reader's TimestampType, which is no retype."""
    from mssql2monetdb_spark.schema.mapper import (
        derby_readback_type,
        equivalent_in_derby,
        spark_schema_to_derby_ddl,
    )

    ntz = T.StructType([T.StructField("ts", T.TimestampNTZType())])
    assert spark_schema_to_derby_ddl(ntz) == '"ts" TIMESTAMP'
    assert derby_readback_type(T.TimestampNTZType()) == T.TimestampType()
    assert equivalent_in_derby(T.TimestampType(), T.TimestampNTZType())
