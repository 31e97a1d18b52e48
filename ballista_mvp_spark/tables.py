"""Canonical table registry for the synthetic star schema.

The reference registers tables via ``CREATE EXTERNAL TABLE`` over listing
directories (reference: ballista/core/proto/datafusion.proto:171-184,
ListingTableScanNode :99-115). Here the analogue is ``spark.read.parquet``
plus ``createOrReplaceTempView`` — Catalyst then owns projection/filter
pushdown into the scan.

``events.ts`` is stored as parquet TIMESTAMP(NANOS,false), which Spark has
no type for (SURVEY.md §1.2: ns truncates to µs). With
``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as a long
of nanoseconds; ``events_frame`` (used by ``load_table`` and the streaming
source) converts it to a proper microsecond timestamp with
``timestamp_micros(ns div 1000)`` so SQL date/time semantics match the
DuckDB oracle (which reads the same file as TIMESTAMP).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a synthetic table to a DataFrame. Memoized per session —
    the catalog role: a repeated lookup must not re-read parquet footers
    or rebuild the relation (DataFrames are immutable, so handing the
    same plan out is safe; only the canonical read-only testdata flows
    through here)."""
    cache = _session_cache(spark)
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = _load_table_uncached(spark, sf_dir, name)
    cache[key] = df
    return df


def file_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet schema of a synthetic table's file as Spark infers it,
    memoized per session next to ``load_table``'s frames. A streaming
    source must be given its schema; inferring it runs a Spark job on
    every call. Call it after ``events_frame`` has set the read confs."""
    cache = _session_cache(spark)
    key = (sf_dir, name, "schema")
    if key not in cache:
        cache[key] = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    return cache[key]


def _session_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, "_bms_table_cache", None)
    if cache is None:
        cache = {}
        spark._bms_table_cache = cache
    return cache


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return events_frame(spark, lambda: spark.read.parquet(path))
    return spark.read.parquet(path)


def events_frame(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """The one decision on how events ``ts`` is read, for batch and
    streaming reads alike: set the three runtime confs it needs, call
    ``read`` (a batch or streaming parquet read of events), and normalize
    ``ts`` to TIMESTAMP (LTZ), which watermarks require."""
    # The driver may hand us a vanilla session without this conf; it is
    # runtime-settable, and without it the NANOS column aborts the scan.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The LTZ-equals-oracle argument below requires the UTC session
    # zone; a driver session on a non-UTC host would otherwise shift
    # every hour()/date_trunc() by the host offset vs DuckDB's naive
    # read. Runtime-settable, like the two parquet confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # 2026-08 testdata regen ships ts as plain µs (isAdjustedToUTC=false);
    # without this, Spark 4 infers TIMESTAMP_NTZ, which watermarks reject.
    # LTZ under the UTC session zone is value-identical to the oracle's
    # naive read, and keeps ts predicate pushdown scan-native.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = read()
    kind = dict(df.dtypes).get("ts")
    if kind == "bigint":
        # TIMESTAMP(NANOS) read as long under nanosAsLong: ns -> µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "timestamp_ntz":
        # driver-owned session without the NTZ-inference conf: cast (no-op
        # values under UTC), so watermarks and LTZ semantics hold engine-wide.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_all(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every synthetic table as a temp view (idempotent)."""
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
