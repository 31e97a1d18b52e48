"""Aggregate parity helpers — SURVEY.md §2.5.

Spark covers 18 of the reference's 19 aggregate functions natively
(reference enum: ballista/core/proto/datafusion.proto:529-549; mapping
table SURVEY.md §2.5). The gap is
APPROX_PERCENTILE_CONT_WITH_WEIGHT (:546) — Spark's percentile_approx
takes no weight column. ``weighted_percentile`` implements the weighted
percentile EXACTLY via a cumulative-weight window walk, which both
matches DataFusion's semantics at small scale and is value-checkable
against a DuckDB oracle (a sketch shim would be neither).

Scale: one shuffle on the group key + a per-group sort — same cost class
as any windowed aggregation. For sketch-sized state at extreme
cardinality, fall back to percentile_approx on a weight-expanded sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def weighted_percentile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q: float,
    out_col: str = "wpct",
) -> DataFrame:
    """Lower-bound weighted percentile: the smallest value whose
    cumulative weight reaches q × total weight (inclusive)."""
    w_cum = (
        W.partitionBy(*group_cols)
        .orderBy(F.col(value_col), F.col(weight_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy(*group_cols)
    ranked = df.select(
        *group_cols,
        F.col(value_col),
        F.sum(weight_col).over(w_cum).alias("_cw"),
        F.sum(weight_col).over(w_all).alias("_tw"),
    ).filter(F.col("_cw") >= F.lit(q) * F.col("_tw"))
    return (
        ranked.groupBy(*group_cols)
        .agg(F.min(value_col).alias(out_col))
    )


def exact_percentiles_ranked(
    df: DataFrame,
    value_col: str,
    ps: list[float],
    out_col: str = "bs",
) -> DataFrame:
    """Exact interpolated percentiles of one numeric column as a 1-row
    DataFrame with an array column — value-identical to
    ``F.percentile(value_col, array(ps))`` but computed by
    deterministic value-bucketing + within-bucket sort + two-phase
    rank selection (r11 optimization, restructured r12 for structural
    rank coherence; guide §1.2 "the distributed algorithm").

    Why not the built-in: ``Percentile`` aggregates a value→count
    OpenHashMap per partition and merges ALL distinct values into ONE
    final buffer it then sorts — on a high-cardinality column that merge
    is a single-task sort of the whole column (measured r11:
    l_extendedprice at sf0.1 is 583k distinct of 600k rows, bounds pass
    1.8-2.6 s), and at 100 TB the one buffer simply does not fit. Here
    each value is assigned a monotone equi-width bucket id (one
    broadcast min/max pass), buckets are hash-shuffled and sorted
    LOCALLY (parallel, spills gracefully), ranks are assembled as
    per-bucket row_numbers plus broadcast bucket-count offsets
    (two-phase rank — only the bucket-count table, ≤32·cluster-width
    rows, ever converges to one task), and the ≤2·len(ps) rows holding
    the rank positions are the only data the final 1-row aggregate
    sees.

    Value identity with the built-in (pinned by
    tests/test_rank_percentile.py on the real corpus + randomized
    frames): NULLs are dropped first (Percentile ignores them, and its
    ``count`` is the non-null count); position arithmetic replays
    Percentile.getPercentile exactly — ``pos = p·(n−1)`` with
    ``(ceil(pos)−pos)·v_floor + (pos−floor(pos))·v_ceil`` and the
    floor==ceil short-circuit — in the same double precision, so the
    result is bit-equal, not just close. Ties across bucket
    boundaries are safe: equal values yield equal rank candidates.

    Rank coherence (r12, VERDICT r11 #3): the partition key ``_pid``
    is a DETERMINISTIC FUNCTION OF THE VALUE — an equi-width bucket
    over [min/2, max/2] of the finite values (halving keeps every
    intermediate finite for finite doubles; /2 and the affine map are
    monotone, so bucket i's values never exceed bucket j's for i<j;
    NaN/+inf pin to the top bucket, −inf to bucket 0, matching
    Spark's double ordering) — so the offsets branch and the
    row_number branch agree on every row's bucket even if they
    re-execute the subtree with exchange reuse disabled. The r11 form
    keyed on ``spark_partition_id()`` of a range sort, which made the
    offsets/row_number agreement depend on the two DAG branches
    sharing ONE exchange execution (ReusedExchange — true under
    default configs, but a runtime property, not a structural one).
    tests/test_rank_percentile.py pins bit-equality under
    ``spark.sql.exchange.reuse=false``. The bucket domain is
    32·defaultParallelism ids (cluster-width, data-independent), so
    the broadcast offsets table stays cluster-bound at 100 TB; a
    skewed bucket degrades to a bigger sort task, never to a wrong
    rank. Caller contract: non-empty input (the built-in returns NULL
    there; this returns a row of NULLs). An empty ``ps`` raises
    ``ValueError`` and a non-numeric ``value_col`` raises ``TypeError``
    before any plan is built: a non-numeric value would cast to a NULL
    bucket id, drop out of the offsets join while still counted in
    ``_n``, and shift every rank."""
    if not ps:
        raise ValueError("exact_percentiles_ranked: ps must be non-empty")
    vtype = df.schema[value_col].dataType
    if not isinstance(vtype, NumericType):
        raise TypeError(
            f"exact_percentiles_ranked: {value_col!r} must be numeric, "
            f"got {vtype.simpleString()}"
        )
    nb = 32 * df.sparkSession.sparkContext.defaultParallelism
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_v")
    )
    vd = F.col("_v").cast("double")
    finite = ~F.isnan(vd) & (vd > float("-inf")) & (vd < float("inf"))
    st = vals.agg(
        (F.min(F.when(finite, vd)) / 2).alias("_lo2"),
        (F.max(F.when(finite, vd)) / 2 - F.min(F.when(finite, vd)) / 2).alias(
            "_span"
        ),
    )
    pid = (
        F.when(F.isnan(vd) | (vd == float("inf")), F.lit(nb - 1))
        .when(
            (vd == float("-inf"))
            | F.col("_span").isNull()
            | (F.col("_span") <= 0),
            F.lit(0),
        )
        .otherwise(
            F.least(
                F.lit(nb - 1),
                F.floor((vd / 2 - F.col("_lo2")) / F.col("_span") * nb),
            )
        )
        .cast("int")
    )
    s = vals.crossJoin(F.broadcast(st)).select("_v", pid.alias("_pid"))
    cnts = s.groupBy("_pid").agg(F.count("*").alias("_c"))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offs = cnts.select(
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    w_local = W.partitionBy("_pid").orderBy("_v")
    g = (
        s.select("_v", "_pid", F.row_number().over(w_local).alias("_lr"))
        .join(F.broadcast(offs), "_pid")
        .select("_v", (F.col("_lr") + F.col("_off")).alias("_r"), "_n")
    )
    # the per-percentile selection/interpolation trees are rendered as
    # SQL text — one parse instead of ~25 py4j round trips per cut
    # point (the r11 Change-9 driver-tax discipline; the trees are the
    # same ops in the same order, bit-equality pinned by
    # tests/test_rank_percentile.py)
    def _pos(p: float) -> str:
        return f"({float(p)!r}D * CAST((_n - 1) AS DOUBLE))"

    keeps, aggs, outs = [], ["max(_n) AS _n"], []
    for i, p in enumerate(ps):
        pos = _pos(p)
        lo_r, hi_r = f"(FLOOR({pos}) + 1)", f"(CEIL({pos}) + 1)"
        keeps.append(f"(_r = {lo_r}) OR (_r = {hi_r})")
        aggs.append(f"max(CASE WHEN (_r = {lo_r}) THEN _v END) AS _lo{i}")
        aggs.append(f"max(CASE WHEN (_r = {hi_r}) THEN _v END) AS _hi{i}")
        lo_pos, hi_pos = f"CAST(FLOOR({pos}) AS DOUBLE)", f"CAST(CEIL({pos}) AS DOUBLE)"
        outs.append(
            f"CASE WHEN ({lo_pos} = {hi_pos}) THEN _lo{i} "
            f"ELSE ((({hi_pos} - {pos}) * _lo{i}) + (({pos} - {lo_pos}) * _hi{i})) END"
        )
    got = g.filter(F.expr(" OR ".join(keeps))).agg(*[F.expr(a) for a in aggs])
    return got.selectExpr(f"array({', '.join(outs)}) AS {out_col}")
