"""Arrow→Spark type-mapping parity layer (SURVEY.md §1.2).

The reference's type surface is the ``ArrowType`` oneof (reference:
ballista/core/proto/datafusion.proto:863-898) with scalar literals in
``ScalarValue`` (:813-854). This module pins the documented mapping rules,
including the cases with no Spark equivalent:

- unsigned ints widen (UINT8→Short, UINT16→Int, UINT32→Long,
  UINT64→Decimal(20,0)) — matching what Spark's own Parquet reader does;
- nanosecond timestamps truncate to microseconds;
- TIME32/TIME64 map to long microseconds-since-midnight (no TimeType);
- FLOAT16 widens to float; UNION and GROUPS-frames are unsupported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_SIMPLE = {
    "NONE": T.NullType(),
    "BOOL": T.BooleanType(),
    "INT8": T.ByteType(),
    "INT16": T.ShortType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    # unsigned: widen one step (datafusion.proto:867,869,871,873)
    "UINT8": T.ShortType(),
    "UINT16": T.IntegerType(),
    "UINT32": T.LongType(),
    "UINT64": T.DecimalType(20, 0),
    "FLOAT16": T.FloatType(),
    "FLOAT32": T.FloatType(),
    "FLOAT64": T.DoubleType(),
    "UTF8": T.StringType(),
    "LARGE_UTF8": T.StringType(),
    "BINARY": T.BinaryType(),
    "LARGE_BINARY": T.BinaryType(),
    "FIXED_SIZE_BINARY": T.BinaryType(),
    "DATE32": T.DateType(),
    "DATE64": T.DateType(),
    # no TimeType in Spark → µs since midnight (SURVEY.md §1.2)
    "TIME32": T.LongType(),
    "TIME64": T.LongType(),
    "DURATION": T.DayTimeIntervalType(),
    "INTERVAL_YEARMONTH": T.YearMonthIntervalType(),
    "INTERVAL_DAYTIME": T.DayTimeIntervalType(),
    "INTERVAL_MONTHDAYNANO": T.CalendarIntervalType(),
}

UNSUPPORTED = ("UNION",)  # no Spark equivalent; not exercised by any SQL path


def arrow_to_spark(
    name: str,
    timezone: str | None = None,
    precision: int | None = None,
    scale: int | None = None,
    element: T.DataType | None = None,
    fields: list[tuple[str, T.DataType, bool]] | None = None,
) -> T.DataType:
    """Map an ArrowType tag (datafusion.proto:863-898 oneof field names,
    upper-cased) to the Spark SQL type per the SURVEY.md §1.2 table."""
    key = name.upper()
    if key in UNSUPPORTED:
        raise ValueError(f"ArrowType {name} has no Spark equivalent (SURVEY.md §1.2)")
    if key in _SIMPLE:
        return _SIMPLE[key]
    if key.startswith("TIMESTAMP"):
        # TIMESTAMP{s,ms,us,ns} (+optional tz, datafusion.proto:699-702);
        # ns truncates to µs. tz-aware → TimestampType, naive → NTZ.
        return T.TimestampType() if timezone else T.TimestampNTZType()
    if key == "DECIMAL":
        if precision is None or scale is None:
            raise ValueError("DECIMAL requires precision/scale")
        if precision > 38:
            raise ValueError("Spark DecimalType max precision is 38 (=Decimal128)")
        return T.DecimalType(precision, scale)
    if key in ("LIST", "LARGE_LIST", "FIXED_SIZE_LIST"):
        return T.ArrayType(element or T.NullType())
    if key == "STRUCT":
        return T.StructType(
            [T.StructField(n, dt, nullable) for n, dt, nullable in (fields or [])]
        )
    if key == "DICTIONARY":
        # encoding detail, not a logical type (datafusion.proto:737-740)
        return element or T.StringType()
    raise ValueError(f"unknown ArrowType: {name}")


def schema_from_fields(fields: list[tuple[str, str, bool]]) -> T.StructType:
    """Build a Spark schema from (name, arrow_type_tag, nullable) triples —
    the Schema/Field shape of datafusion.proto:682-693."""
    return T.StructType(
        [T.StructField(n, arrow_to_spark(t), nullable) for n, t, nullable in fields]
    )


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-built ``rows`` (DDL ``schema``) as a DataFrame over a
    ``LocalRelation``, in ``rows`` order. The rows go through a
    ``pyarrow.Table``, which Spark keeps local below
    ``spark.sql.execution.arrow.localRelationThreshold`` whatever the
    session's Arrow conf; ``createDataFrame`` over a Python list is a
    PythonRDD whose every job ships the rows through Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(T.DataType.fromDDL(schema))
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table)
