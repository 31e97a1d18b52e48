"""exact_percentiles_ranked must be BIT-equal to F.percentile — the r11
optimization swapped stats_histogram's bounds pass from the built-in
Percentile (single-buffer counts-map merge) to distributed sort +
two-phase rank selection; these tests pin value identity on the real
corpus and on adversarial synthetic frames (ties, nulls, tiny inputs,
many partitions), so any drift in the interpolation arithmetic or the
rank/offset assembly fails loudly here rather than as an oracle hash.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ballista_mvp_spark.operators.aggregates import exact_percentiles_ranked

PS_HISTO = [i / 8.0 for i in range(1, 8)]


def _bits(xs):
    return [None if x is None else struct.pack("<d", x) for x in xs]


def _builtin(df, col, ps):
    return df.agg(
        F.percentile(col, F.array(*[F.lit(p) for p in ps])).alias("bs")
    ).collect()[0]["bs"]


def _ranked(df, col, ps):
    return exact_percentiles_ranked(df, col, ps).collect()[0]["bs"]


def assert_bit_equal(df, col, ps):
    a, b = _builtin(df, col, ps), _ranked(df, col, ps)
    assert _bits(a) == _bits(b), f"builtin={a} ranked={b}"


def test_real_corpus_extendedprice(spark):
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
            F.col("l_extendedprice").cast("double").alias("v")
        )
        assert_bit_equal(li, "v", PS_HISTO)


def test_heavy_ties_and_boundary_ps(spark):
    # 60% of rows share 3 values; ties straddle range-partition borders.
    rows = [(float(i % 5),) for i in range(4001)] + [(2.0,)] * 500
    df = spark.createDataFrame(rows, "v double").repartition(16)
    assert_bit_equal(df, "v", [0.0, 0.125, 0.5, 0.777, 1.0])


def test_nulls_ignored_like_builtin(spark):
    rows = [(float(i),) for i in range(999)] + [(None,)] * 100
    df = spark.createDataFrame(rows, "v double").repartition(7)
    assert_bit_equal(df, "v", PS_HISTO)


def test_tiny_inputs(spark):
    for n in (1, 2, 3):
        df = spark.createDataFrame([(float(i * 3 + 1),) for i in range(n)], "v double")
        assert_bit_equal(df, "v", [0.0, 0.25, 0.5, 1.0])


def test_integral_positions_hit_exact_rows(spark):
    # n=9 → p=0.25 gives position 2.0 exactly: floor==ceil short-circuit.
    df = spark.createDataFrame([(float(i),) for i in range(9)], "v double")
    assert_bit_equal(df, "v", [0.25, 0.5, 0.75])


def test_coherent_with_exchange_reuse_disabled(spark):
    # r12 (VERDICT r11 #3): the bucket id is a deterministic function
    # of the value, so the offsets branch and the row_number branch
    # agree even when every exchange re-executes (no ReusedExchange).
    # The r11 spark_partition_id()-keyed form relied on the two DAG
    # branches sharing one range-sort execution.
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
            F.col("l_extendedprice").cast("double").alias("v")
        )
        assert_bit_equal(li, "v", PS_HISTO)
        rows = [(float(i % 5),) for i in range(4001)] + [(2.0,)] * 500
        df = spark.createDataFrame(rows, "v double").repartition(16)
        assert_bit_equal(df, "v", [0.0, 0.125, 0.5, 0.777, 1.0])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


def test_extreme_values_bucket_monotone(spark):
    # ±inf/NaN pin to the extreme buckets; the halved affine map keeps
    # every intermediate finite, so huge finite spans stay monotone.
    rows = (
        [(float("-inf"),)] * 3
        + [(-1.7e308,), (-5.0,), (0.0,), (3.14,), (1.7e308,)] * 7
        + [(float("inf"),)] * 2
    )
    df = spark.createDataFrame(rows, "v double").repartition(5)
    assert_bit_equal(df, "v", [0.0, 0.1, 0.25, 0.5, 0.9, 1.0])


def test_constant_column_single_bucket(spark):
    # span == 0 → every row in bucket 0 (degraded parallelism, exact
    # result) — the all-ties frame.
    df = spark.createDataFrame([(7.5,)] * 1000, "v double").repartition(9)
    assert_bit_equal(df, "v", PS_HISTO)


def test_empty_ps_rejected(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="ps must be non-empty"):
        exact_percentiles_ranked(df, "v", [])


def test_non_numeric_column_rejected(spark):
    # a string that does not parse as a number would cast to a NULL
    # bucket id and silently shift every rank
    df = spark.createDataFrame([("1.5",), ("abc",), ("3",)], "v string")
    with pytest.raises(TypeError, match="must be numeric, got string"):
        exact_percentiles_ranked(df, "v", [0.5])
