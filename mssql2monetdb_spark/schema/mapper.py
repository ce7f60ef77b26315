"""Schema mapping: the reference's type system re-expressed on StructType.

Reference semantics reproduced here (SURVEY.md §1.2):

- JDBC -> engine type lattice (``MonetDBUtil.java:205-226``), unknown types
  are an error (``MonetDBUtil.java:235-239``);
- decimal narrowing: DECIMAL(p,0) -> smallest integer type with thresholds
  p<=2 tinyint, p<=4 smallint, p<=9 int, else bigint
  (``MonetDBUtil.java:244-263``);
- identifier normalization: lowercase + ``[^a-zA-Z0-9]+ -> _``
  (``MonetDBUtil.java:301-310``);
- NOT NULL / auto-increment carry-over (``MonetDBUtil.java:284-292``) via
  StructField nullability + metadata;
- char/varchar display size -> ``maxlength`` field metadata
  (``MonetDBUtil.java:268-272``);
- autoTrim: trim every string value (default ON, ``CopyTable.java:72``,
  applied ``CopyTool.java:713-714``).

All pure ``StructType`` transforms — no Catalyst rules needed; Spark applies
them at ingest so every downstream plan sees normalized names/types.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: JDBC type name -> (Spark type factory, needs_precision_args)
#: mirror of the switch in MonetDBUtil.createColumnSql (MonetDBUtil.java:205-226)
_JDBC_TO_SPARK: dict[str, object] = {
    "BIGINT": T.LongType(),
    "BLOB": T.BinaryType(),
    "BOOLEAN": T.BooleanType(),
    "BIT": T.BooleanType(),
    "CHAR": T.StringType(),
    "NCHAR": T.StringType(),
    "CLOB": T.StringType(),
    "NCLOB": T.StringType(),
    "DATE": T.DateType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.DoubleType(),  # JDBC FLOAT is double precision
    "INTEGER": T.IntegerType(),
    "NVARCHAR": T.StringType(),
    "VARCHAR": T.StringType(),
    "LONGVARCHAR": T.StringType(),
    "LONGNVARCHAR": T.StringType(),
    "REAL": T.FloatType(),
    "SMALLINT": T.ShortType(),
    # TIME -> STRING (lossless 'HH:mm:ss' render), see SURVEY.md §1.2.
    # Spark 4.1 grew a native TimeType, but it is not plumbed through the
    # JDBC dialects (writers raise "Can't get JDBC type for time(6)") and
    # JDBC readers still surface TIME as an epoch-day TIMESTAMP, so STRING
    # remains the interoperable engine-side representation; the round-trip
    # is driver-verified end-to-end by jdbc_roundtrip_typelattice.
    "TIME": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
    "TINYINT": T.ByteType(),
}

#: String-ish JDBC types whose display size becomes ``maxlength`` metadata.
_LENGTH_TYPES = {"CHAR", "NCHAR", "VARCHAR", "NVARCHAR"}


class UnknownSqlTypeError(ValueError):
    """Parity with the reference's hard error on unmapped types
    (``MonetDBUtil.java:235-239``)."""


def jdbc_to_spark_type(
    type_name: str,
    precision: int | None = None,
    scale: int | None = None,
) -> T.DataType:
    """Map a JDBC type name (+precision/scale) to the Spark type."""
    name = type_name.strip().upper()
    if name in ("DECIMAL", "NUMERIC"):
        p = precision if precision is not None else 18
        s = scale if scale is not None else 0
        if s == 0:
            return narrow_decimal(p)
        # reference caps p at 18 for MonetDB (MonetDBUtil.java:273-280);
        # Spark supports 38 — keep full precision, cap only applies to DDL
        # emitted for MonetDB-compat sinks
        return T.DecimalType(min(p, 38), s)
    if name in _JDBC_TO_SPARK:
        return _JDBC_TO_SPARK[name]
    raise UnknownSqlTypeError(f"Unknown SQL type: {type_name}")


def narrow_decimal(precision: int) -> T.DataType:
    """DECIMAL(p,0) -> smallest integer type (MonetDBUtil.java:244-263)."""
    if precision <= 2:
        return T.ByteType()
    if precision <= 4:
        return T.ShortType()
    if precision <= 9:
        return T.IntegerType()
    return T.LongType()


_IDENT_RE = re.compile(r"[^a-zA-Z0-9]+")


def normalize_identifier(name: str) -> str:
    """Lowercase and collapse every non-alphanumeric run to ``_``
    (``MonetDBUtil.java:301-310``: ``toLowerCase().replaceAll("[^a-zA-Z0-9]+", "_")``)."""
    return _IDENT_RE.sub("_", name.lower())


def map_column(
    name: str,
    type_name: str,
    precision: int | None = None,
    scale: int | None = None,
    nullable: bool = True,
    auto_increment: bool = False,
) -> T.StructField:
    """Build a normalized StructField from JDBC column metadata."""
    metadata: dict[str, object] = {}
    upper = type_name.strip().upper()
    if upper in _LENGTH_TYPES and precision:
        metadata["maxlength"] = int(precision)  # char(n)/varchar(n) length
    if auto_increment:
        metadata["auto_increment"] = True  # MonetDBUtil.java:284-287
    if upper in ("DECIMAL", "NUMERIC") and scale == 0 and precision is not None:
        metadata["narrowed_from"] = f"DECIMAL({precision},0)"
    return T.StructField(
        normalize_identifier(name),
        jdbc_to_spark_type(type_name, precision, scale),
        nullable=nullable,  # columnNoNulls carry-over (MonetDBUtil.java:289-292)
        metadata=metadata or None,
    )


def normalize_schema(schema: T.StructType) -> T.StructType:
    """Normalize identifiers of an existing StructType (ingest-side)."""
    fields = [
        T.StructField(normalize_identifier(f.name), f.dataType, f.nullable, f.metadata)
        for f in schema.fields
    ]
    names = [f.name for f in fields]
    if len(set(names)) != len(names):
        raise ValueError(f"identifier normalization produced duplicate column names: {names}")
    return T.StructType(fields)


def normalized_dataframe(df: DataFrame, *, auto_trim: bool = True) -> DataFrame:
    """Apply identifier normalization + optional autoTrim to a DataFrame.

    autoTrim trims every string column (the reference trims every stringified
    value when enabled — default ON, ``CopyTable.java:72``).
    """
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if auto_trim and isinstance(f.dataType, T.StringType):
            c = F.trim(c)
        cols.append(c.alias(normalize_identifier(f.name)))
    out = df.select(*cols)
    names = out.columns
    if len(set(names)) != len(names):
        raise ValueError(f"identifier normalization produced duplicate column names: {names}")
    return out


#: Spark -> Derby column DDL (the bulk-load sink's dialect). Derby has no
#: TINYINT (SMALLINT carries byte values on the wire — the narrowing rule
#: re-narrows at ingest) and its strings are length-bounded (VARCHAR cap
#: 32672; unbounded text is CLOB).
_SPARK_TO_DERBY = {
    T.ByteType(): "SMALLINT",
    T.ShortType(): "SMALLINT",
    T.IntegerType(): "INTEGER",
    T.LongType(): "BIGINT",
    T.FloatType(): "REAL",
    T.DoubleType(): "DOUBLE",
    T.BooleanType(): "BOOLEAN",
    T.StringType(): "VARCHAR(4000)",
    T.BinaryType(): "BLOB",
    T.DateType(): "DATE",
    T.TimestampType(): "TIMESTAMP",
    # Derby's TIMESTAMP has no zone: it stores the staged wall-clock value
    T.TimestampNTZType(): "TIMESTAMP",
}


#: Derby DDL keyword -> the Spark type the JDBC *reader* surfaces for a
#: column created with it. NOT the inverse of ``_SPARK_TO_DERBY``: Spark's
#: JdbcUtils maps java.sql.Types.SMALLINT to IntegerType, so a ShortType /
#: ByteType column written as SMALLINT reads back widened (verified live on
#: embedded Derby), and a TimestampNTZType column written as TIMESTAMP reads
#: back as TimestampType. Schema verify/evolve must compare through this map or
#: every post-publish export of a short/byte column false-positives as a
#: retype (the reference never type-checks at all — MonetDBUtil.java:367-369
#: declares it a TODO — so "equivalent modulo the sink round-trip" is the
#: strictest check that doesn't break the incremental lifecycle).
_DERBY_READBACK = {
    "SMALLINT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "REAL": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "VARCHAR(4000)": T.StringType(),
    "BLOB": T.BinaryType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
}


def derby_readback_type(dt: T.DataType) -> T.DataType:
    """The Spark type a column of engine type ``dt`` comes back as after a
    Derby DDL round-trip (``_SPARK_TO_DERBY`` render -> JDBC reader)."""
    if isinstance(dt, T.DecimalType):
        return dt
    ddl = _SPARK_TO_DERBY.get(dt)
    if ddl is None:
        raise UnknownSqlTypeError(
            f"no Derby DDL mapping for {dt.simpleString()}"
        )
    return _DERBY_READBACK[ddl]


def equivalent_in_derby(read_back: T.DataType, incoming: T.DataType) -> bool:
    """True when ``incoming`` landing in the warehouse would read back as
    ``read_back`` — i.e. the pair is NOT a retype, merely the sink's lossy
    type-lattice round-trip (ShortType/ByteType -> SMALLINT -> int)."""
    if read_back == incoming:
        return True
    try:
        return derby_readback_type(incoming) == read_back
    except UnknownSqlTypeError:
        return False


def spark_schema_to_derby_ddl(schema: T.StructType) -> str:
    """Render a StructType as a Derby CREATE-TABLE column list (quoted
    lowercase identifiers — Spark's JDBC reader/writer quote identifiers,
    so unquoted DDL would case-normalize to uppercase and break the
    round-trip). The Derby-sink analog of ``MonetDBUtil.createTableSql``
    (``MonetDBUtil.java:162-190``)."""
    parts = []
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            ddl = f"DECIMAL({f.dataType.precision},{f.dataType.scale})"
        else:
            try:
                ddl = _SPARK_TO_DERBY[f.dataType]
            except KeyError:
                raise UnknownSqlTypeError(
                    f"no Derby DDL mapping for {f.dataType.simpleString()}"
                ) from None
        null = "" if f.nullable else " NOT NULL"
        parts.append(f'"{normalize_identifier(f.name)}" {ddl}{null}')
    return ", ".join(parts)

