"""Bit-equality of the unrolled fixed-dim vector kernels vs the
higher-order-function forms (operators/similarity.dot/norm/cosine with and
without `dim`).

The optimization contract is exact value identity — same left fold from
0.0, same type promotions — so every oracle hash is unchanged. These
tests pin that contract on the real embedding corpus (float arrays cast
and uncast) plus the documented edge cases: zero vectors (the d==0
branch) and NULL vectors.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from ballista_mvp_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pairs(df, cast):
    v = F.col("embedding").cast("array<double>") if cast else F.col("embedding")
    a = df.select(F.col("vec_id").alias("a"), v.alias("va"))
    b = df.select(F.col("vec_id").alias("b"), v.alias("vb"))
    return a.crossJoin(F.broadcast(b)).filter(F.col("a") < F.col("b"))


@pytest.mark.parametrize("cast", [True, False], ids=["double", "float"])
def test_cosine_unrolled_bit_equal_on_corpus(emb, cast):
    j = _pairs(emb.limit(80), cast)
    hof = j.select("a", "b", S.cosine("va", "vb").alias("c"))
    unr = j.select("a", "b", S.cosine("va", "vb", 64).alias("c"))
    rows_h = {(r.a, r.b): r.c for r in hof.collect()}
    rows_u = {(r.a, r.b): r.c for r in unr.collect()}
    assert rows_h == rows_u  # exact ==, not approx: the contract is bit-equality


def test_dot_norm_unrolled_bit_equal(emb):
    v = emb.limit(50).select(F.col("embedding").cast("array<double>").alias("v"))
    both = v.select(
        S.dot("v", "v").alias("d_hof"),
        S.dot("v", "v", 64).alias("d_unr"),
        S.norm("v").alias("n_hof"),
        S.norm("v", 64).alias("n_unr"),
    )
    for r in both.collect():
        assert r.d_hof == r.d_unr
        assert r.n_hof == r.n_unr


def test_cosine_unrolled_zero_and_null_vectors(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 4, [1.0, 2.0, 3.0, 4.0]),   # zero-magnitude -> 0.0 branch
         (2, [1.0] * 4, None)],                   # NULL vector
        "id long, a array<double>, b array<double>",
    )
    out = df.select(
        S.cosine("a", "b").alias("hof"),
        S.cosine("a", "b", 4).alias("unr"),
    ).collect()
    assert out[0].hof == 0.0 and out[0].unr == 0.0
    # NULL vector: d = norm(a)*NULL = NULL, `when(NULL != 0)` is falsy →
    # both forms fall to the otherwise(0.0) branch identically
    assert out[1].hof == 0.0 and out[1].unr == 0.0


def test_vector_kernels_quote_column_names(emb):
    """The kernels take column names and render them as quoted SQL
    identifiers, so a name that is not a bare identifier still resolves
    in both forms."""
    j = emb.limit(5).select(
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("embedding").cast("array<double>").alias("va x"),
    )
    out = j.select(
        S.cosine("v", "va x").alias("hof"),
        S.cosine("v", "va x", 64).alias("unr"),
        S.norm("va x", 64).alias("n"),
        S.norm("v").alias("nv"),
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r.hof == r.unr and r.n == r.nv


def test_text_rendered_unroll_matches_column_tree(emb):
    # the SQL-text unrolled cosine must analyze to the SAME canonical
    # plan as the hand-composed Column tree: eject-seeded dot, 0.0-seeded
    # norms (equivalence by construction, not by sampled values)
    v = F.col("embedding").cast("array<double>")
    a = emb.limit(60).select(F.col("vec_id").alias("a"), v.alias("va"))
    b = emb.limit(60).select(F.col("vec_id").alias("b"), v.alias("vb"))
    j = a.crossJoin(F.broadcast(b)).filter(F.col("a") < F.col("b"))
    text = j.select("a", "b", S.cosine("va", "vb", 64).alias("c"))
    e = F.expr("aggregate(array(), 0.0D, (acc, v) -> acc)")
    for k in range(64):
        e = e + F.get(F.col("va"), k) * F.get(F.col("vb"), k)
    na = F.lit(0.0)
    for k in range(64):
        x = F.get(F.col("va"), k)
        na = na + x * x
    nb = F.lit(0.0)
    for k in range(64):
        x = F.get(F.col("vb"), k)
        nb = nb + x * x
    d = F.sqrt(na) * F.sqrt(nb)
    manual = j.select(
        "a", "b", F.when(d != 0, e / d).otherwise(F.lit(0.0)).alias("c")
    )
    pt = text._jdf.queryExecution().analyzed().canonicalized().toString()
    pm = manual._jdf.queryExecution().analyzed().canonicalized().toString()
    assert pt == pm


def test_spread_refuses_shuffling_input(spark):
    """spread_small_scan's scan-shaped-input contract is mechanical — a
    shuffling/derived plan is returned UNCHANGED (identity, so no `.rdd`
    probe and no hidden AQE stage materialization), while a small
    scan-shaped input still gets the round-robin spread."""
    from ballista_mvp_spark.operators.similarity import (
        _non_scan_node,
        spread_small_scan,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # scan-shaped inputs: scan, projected/filtered/aliased scan
    scanish = emb.select("vec_id", "embedding").filter(F.col("vec_id") >= 0)
    assert _non_scan_node(emb) is None and _non_scan_node(scanish.alias("s")) is None
    spread = spread_small_scan(scanish)
    assert spread is not scanish  # the spread happened (tiny scan)
    assert "Repartition" in spread._jdf.queryExecution().analyzed().treeString()
    # shuffling shapes: aggregate, window-sample, join, repartition
    agg = emb.groupBy("vec_id").count()
    win = emb.withColumn(
        "_r",
        F.row_number().over(
            __import__("pyspark.sql", fromlist=["Window"]).Window.orderBy("vec_id")
        ),
    )
    joined = emb.join(emb.select(F.col("vec_id").alias("_q")), F.col("vec_id") == F.col("_q"))
    for bad in (agg, win, joined, emb.repartition(2), emb.limit(5)):
        assert _non_scan_node(bad) is not None
        assert spread_small_scan(bad) is bad  # identity no-op, no probe


def test_spread_no_op_is_logged(spark, caplog):
    """The spread's no-op is a visible fallback: one debug event naming
    the first node that is not scan-shaped, and none when it spreads."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with caplog.at_level(logging.DEBUG, logger=S.__name__):
        S.spread_small_scan(emb.select("vec_id", "embedding"))
    assert not [r for r in caplog.records if "spread_small_scan" in r.getMessage()]
    with caplog.at_level(logging.DEBUG, logger=S.__name__):
        S.spread_small_scan(emb.groupBy("vec_id").count())
    events = [r.getMessage() for r in caplog.records if "spread_small_scan" in r.getMessage()]
    assert events == ["spread_small_scan: not spread, plan node Aggregate is not scan-shaped"]


def test_cosine_from_norms_bit_equal_on_corpus(emb, spark):
    """The pre-join-norm form (cosine_from_norms + eject seed — the
    empty-array fold IS 0.0D) must be bit-equal to the inline cosine,
    including the zero-vector d==0 branch."""
    df = emb.limit(80).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    zero = spark.createDataFrame(
        [(9001, [0.0] * 64), (9002, [1.0] + [0.0] * 63)],
        "vec_id long, embedding array<double>",
    )
    df = df.unionByName(zero)
    a = df.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        S.norm("embedding", 64).alias("_na"),
    )
    b = df.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        S.norm("embedding", 64).alias("_nb"),
    )
    j = a.crossJoin(F.broadcast(b)).filter(F.col("a") < F.col("b"))
    inline = j.select("a", "b", S.cosine("va", "vb", 64).alias("c"))
    pre = j.select(
        "a", "b", S.cosine_from_norms("va", "vb", "_na", "_nb", 64).alias("c")
    )
    rows_i = {(r.a, r.b): r.c for r in inline.collect()}
    rows_p = {(r.a, r.b): r.c for r in pre.collect()}
    assert rows_i == rows_p  # exact ==: bit-equality contract


def _physical_nodes(plan, fused=False):
    """(class name, one-line node string, inside whole-stage codegen?)
    for every operator of an executed plan, descending through AQE query
    stages. An InputAdapter ends the enclosing fused region."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(plan.executedPlan(), fused)
        return
    if name.endswith("QueryStageExec"):
        yield from _physical_nodes(plan.plan(), False)
        return
    if name == "WholeStageCodegenExec":
        fused = True
    elif name == "InputAdapter":
        fused = False
    else:
        yield name, plan.simpleString(100), fused
    kids = plan.children()
    for i in range(kids.size()):
        yield from _physical_nodes(kids.apply(i), fused)


@pytest.mark.parametrize(
    "query, marker",
    [
        ("sim_topk", "aggregate("),
        ("dedup_embedding_exact", "aggregate([], 0.0"),
        ("sim_ann_lsh", "aggregate([], 0.0"),
    ],
    ids=["sim_topk", "dedup_embedding_exact", "sim_ann_lsh"],
)
def test_pair_scoring_stays_out_of_whole_stage_codegen(spark, query, marker):
    """Sentinel for the WSCG ejection: the pair-scoring expression holds a
    higher-order `aggregate` (the HOF dot in sim_topk, the _EJECT_SEED_SQL
    seed of every unrolled dot), which is
    CodegenFallback, so its operator runs outside whole-stage codegen.
    A Spark that fused it would bring back the >8 KB-method JIT cliff."""
    from ballista_mvp_spark.queries import ALL_QUERIES

    df = ALL_QUERIES[query](spark, SF_DIR)
    df.collect()
    nodes = _physical_nodes(df._jdf.queryExecution().executedPlan())
    scoring = [(n, fused) for n, s, fused in nodes if marker in s]
    assert scoring, f"no operator carries {marker!r} in {query}'s plan"
    assert not any(fused for _, fused in scoring), scoring
