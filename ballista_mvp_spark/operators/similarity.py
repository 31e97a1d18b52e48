"""Similarity search over embedding columns (array<float>).

BASELINE.json north-star extension: approximate-nearest-neighbor over an
embedding column. Two paths:

- brute-force top-k (the exactness baseline): broadcast the query set,
  score every (query, candidate) with a JVM-side cosine (zip_with +
  aggregate — no Python, no UDF), per-query top-k via window. At 100 TB
  the candidate scan is embarrassingly parallel; the only shuffle is the
  per-query top-k (k rows per partition per query after partial rank
  pruning).

- LSH-bucketed ANN (the scale path): random-hyperplane signatures using
  deterministic seeded coefficients broadcast as literals; candidates
  restricted to matching buckets (multi-probe via several tables), then
  exact re-rank. Recall is tunable via (n_planes, n_tables).
"""

from __future__ import annotations

import logging
import math
import random

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def nested_double_lit(obj, elem_sql_type: str = "double") -> Column:
    """A nested array<...<double>> literal as ONE resolved Catalyst node
    (pass ``elem_sql_type="bigint"`` for exact-integer matrices — the
    same two construction taxes apply to any wide F.lit, e.g. the Bloom
    word array at 2048 longs).

    ``F.lit`` on a nested Python list recurses into ``array(*map(lit,
    ...))`` — one py4j round trip per float, ~0.5 ms each, ALL driver
    time, paid at every DataFrame *construction* (measured: 0.76 s
    for a 4×6×64 plane set; sim_ann_lsh built two of those per
    invocation, so ~1.6 s of its 2.9 s wall was building the plan, not
    running it). And any per-element tree (F.lit or a parsed
    ``array(array(...))``) stays ~1,500 unresolved nodes that EVERY
    downstream transformation re-analyzes — 0.13 s per chained
    select/join at this size, because PySpark Datasets analyze eagerly
    and analysis caches per-Dataset, not per-subtree.

    Fast path: ship the values as one JSON string, let the optimizer
    constant-fold ``from_json`` (one Jackson parse in the JVM), and lift
    the folded Literal out of the optimized 1-row plan — ~0.03 s to
    build and O(1) to re-analyze. Bit-equality with F.lit is pinned by
    tests/test_nested_lit.py (every shipped matrix family plus
    subnormal/extreme/−0.0 adversarial values): ``json.dumps`` emits
    repr's shortest round-trip decimals and Jackson parses
    correctly-rounded, so the doubles are identical, not just close.

    The lift touches two stable-for-years internals
    (``queryExecution().optimizedPlan()``, classic
    ``ExpressionUtils.column``); if either moves, or the fold ever
    yields a non-Literal, we fall back to the same values rendered as
    one ``array(array(...))D`` SQL parse — value-identical (also
    pinned), just slower to re-analyze. Finite values only: an inf/nan
    is rejected up front (json.dumps emits Infinity/NaN, which is not
    JSON and from_json would NULL the whole matrix silently)."""
    import json as _json

    depth, probe = 0, obj
    while isinstance(probe, (list, tuple)):
        depth += 1
        probe = probe[0]
    typ = elem_sql_type
    for _ in range(depth):
        typ = f"array<{typ}>"

    def render(o) -> str:
        if isinstance(o, (list, tuple)):
            return "array(" + ",".join(render(e) for e in o) + ")"
        if elem_sql_type == "bigint":
            return str(int(o)) + "L"
        v = float(o)
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError("nested_double_lit requires finite values")
        return repr(v) + "D"

    try:
        payload = _json.dumps(obj, allow_nan=False)
        spark = SparkSession.getActiveSession()
        df = spark.sql(f"SELECT from_json('{payload}', '{typ}') AS c")
        jlit = df._jdf.queryExecution().optimizedPlan().expressions().apply(0).child()
        # a malformed payload would PERMISSIVE-null the whole matrix —
        # treat a non-Literal OR null fold as "fast path unavailable"
        if jlit.getClass().getSimpleName() != "Literal" or jlit.value() is None:
            raise AssertionError("from_json did not constant-fold to a value")
        # re-type with containsNull=false at every level: from_json's
        # parsed type says nullable elements, F.lit's says non-null —
        # the values carry no nulls, and the schema must match the
        # F.lit form exactly (tests assert dataType equality)
        jdt = (
            spark._jvm.org.apache.spark.sql.types.DataTypes.LongType
            if elem_sql_type == "bigint"
            else spark._jvm.org.apache.spark.sql.types.DataTypes.DoubleType
        )
        for _ in range(depth):
            jdt = spark._jvm.org.apache.spark.sql.types.DataTypes.createArrayType(jdt, False)
        jlit = spark._jvm.org.apache.spark.sql.catalyst.expressions.Literal(jlit.value(), jdt)
        jcol = spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(jlit)
        return Column(jcol)
    except ValueError:
        raise
    except Exception as exc:
        _log.debug(
            "nested_double_lit: %s literal rendered as SQL text (fold unavailable: %s)",
            typ, type(exc).__name__,
        )
        return F.expr(render(obj))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin a small scan across `defaultParallelism` partitions
    before compute-heavy per-row work (signature, code or distance
    derivations that cost far more than the row bytes).

    A bounded corpus usually scans as one parquet row group, so every
    derivation chained on it would run as one task. A scan that already
    has `defaultParallelism` partitions is returned unchanged, so at
    corpus scale this is a no-op. AQE cannot do it: its byte-based
    coalescing would merge the partitions back.

    Only scan-shaped inputs (`_SCAN_SHAPED_NODES` throughout the
    analyzed plan) are spread. The partition probe is
    `df.rdd.getNumPartitions()`, which on a plan with a shuffle would run
    its AQE query stages eagerly, at construction time; any other input
    is returned unchanged without the probe. Each no-op logs one debug
    event."""
    node = _non_scan_node(df)
    if node is not None:
        _log.debug("spread_small_scan: not spread, plan node %s is not scan-shaped", node)
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()
    if have >= n:
        _log.debug("spread_small_scan: not spread, scan has %d >= %d partitions", have, n)
        return df
    return df.repartition(n)


# analyzed-plan node classes that cannot hide an upstream shuffle or an
# eager AQE query stage: pure per-row pipelining over a source scan
_SCAN_SHAPED_NODES = frozenset(
    {
        "Project",
        "Filter",
        "LogicalRelation",  # DataSource v1 file scan
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "SubqueryAlias",
        "View",
    }
)


def _non_scan_node(df: DataFrame) -> str | None:
    """Class name of the first node (pre-order) of the ANALYZED logical
    plan that is not in `_SCAN_SHAPED_NODES`, or None when the whole plan
    is scan-shaped. Walks the JVM plan tree: O(nodes) py4j calls, no
    Spark job."""

    def walk(p) -> str | None:
        name = p.getClass().getSimpleName()
        if name not in _SCAN_SHAPED_NODES:
            return name
        ch = p.children()
        for i in range(ch.size()):
            found = walk(ch.apply(i))
            if found is not None:
                return found
        return None

    return walk(df._jdf.queryExecution().analyzed())


def _ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot(a: str, b: str, dim: int | None = None) -> Column:
    """Dot product of the array columns named `a` and `b`. Without `dim`
    it is a higher-order `aggregate` over `zip_with`, which Spark
    interprets per element. With `dim` (the true vector width: only the
    first `dim` elements are summed) it unrolls to `dim` multiply-adds,
    seeded with `_EJECT_SEED_SQL` — about 10× faster per pair, but ~dim
    plan nodes, so pass `dim` only on high-pair-volume scoring paths.

    Both forms fold left to right from 0.0 with the same promotions, so
    the results are bit-equal; a too-short array gives NULL either way
    (`get` is NULL out of range, like zip_with's padding). Every vector
    kernel renders as one SQL parse; to score a computed vector, name it
    first with `withColumn`."""
    return F.expr(_dot_sql(_ident(a), _ident(b), dim))


# Seed of every unrolled dot: an empty-array fold, bit-exact 0.0D. As a
# higher-order function it is CodegenFallback, so the operator scoring
# the dot runs outside whole-stage codegen, where the long multiply-add
# chain splits into small methods HotSpot JITs; fused, it overflows
# janino's 64 KB limit or becomes one >8 KB method that never JITs
# (OPTIMIZATION_r12.md).
_EJECT_SEED_SQL = "aggregate(array(), 0.0D, (acc, v) -> acc)"


def _dot_sql(an: str, bn: str, dim: int | None) -> str:
    if dim is None:
        return f"aggregate(zip_with({an}, {bn}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    e = _EJECT_SEED_SQL
    for i in range(dim):
        e = f"({e} + (get({an}, {i}) * get({bn}, {i})))"
    return e


def _norm_sql(an: str, dim: int | None) -> str:
    if dim is None:
        return f"SQRT(aggregate({an}, 0.0D, (acc, v) -> acc + v * v))"
    e = "0.0D"
    for i in range(dim):
        e = f"({e} + (get({an}, {i}) * get({an}, {i})))"
    return f"SQRT({e})"


def _cosine_sql(an: str, bn: str, na: str, nb: str, dim: int | None) -> str:
    """`cosine_from_norms` as SQL text; `na` and `nb` are SQL expressions."""
    d = f"({na} * {nb})"
    return f"CASE WHEN {d} != 0 THEN ({_dot_sql(an, bn, dim)} / {d}) ELSE 0.0D END"


def norm(a: str, dim: int | None = None) -> Column:
    """L2 norm of the array column named `a`, with `dot`'s `dim`
    contract. The unrolled sum starts from a literal 0.0: norms are
    per-row work on the side selects and stay in whole-stage codegen."""
    return F.expr(_norm_sql(_ident(a), dim))


def cosine(a: str, b: str, dim: int | None = None) -> Column:
    """Cosine of the array columns named `a` and `b` (see
    `cosine_from_norms`), norms computed inline."""
    an, bn = _ident(a), _ident(b)
    return F.expr(_cosine_sql(an, bn, _norm_sql(an, dim), _norm_sql(bn, dim), dim))


def cosine_from_norms(a: str, b: str, na: str, nb: str, dim: int | None = None) -> Column:
    """Cosine of the array columns named `a` and `b` given the columns
    `na` and `nb` holding their L2 norms. Pair scorers compute the norms
    once per row before the join, so the pair stage carries only the
    dot. A zero-magnitude or NULL vector scores 0.0 instead of raising
    an ANSI DIVIDE_BY_ZERO."""
    return F.expr(_cosine_sql(*map(_ident, (a, b, na, nb)), dim))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. Output: (query_id, neighbor_id,
    cos_sim, rank). Self-matches excluded. Norms are computed once per
    row on the side selects; pass `dim` when the vector width is
    statically known (see `dot`)."""
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS qv", f"{_norm_sql(vec_col, dim)} AS _nq"
    )
    c = candidates.selectExpr(
        f"{id_col} AS neighbor_id", f"{vec_col} AS cv", f"{_norm_sql(vec_col, dim)} AS _nc"
    )
    score = _cosine_sql("qv", "cv", "_nq", "_nc", dim)
    return (
        c.crossJoin(F.broadcast(q))
        .filter("neighbor_id != query_id")
        .selectExpr("query_id", "neighbor_id", f"round({score}, 6) AS cos_sim")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank",
        )
        .filter(f"rank <= {k}")
        .orderBy("query_id", "rank")
    )


def maxsim_topk(
    doc_vecs: DataFrame,
    query_vecs: DataFrame,
    doc_col: str = "doc_id",
    vec_col: str = "vec",
    k: int = 5,
    pos_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) top-k over MULTI-vector
    documents: score(q, d) = Σ_{qv∈q} max_{dv∈d} cosine(qv, dv). The
    retrieval shape for token-level embedding search — one vector per
    token/patch instead of one pooled vector per document.

    Plan: the query side (a handful of docs × vectors) broadcasts; every
    corpus vector is scored JVM-side (zip_with/aggregate — no Python),
    then TWO map-side-combined aggregates fold the (query, doc, qvec)
    maxes and the per-(query, doc) sum. Shuffle rows are slim
    (ids + one double); the corpus scan is embarrassingly parallel, so
    the shape holds at 100 TB of vectors. Self-matches excluded.

    Output: (query_id, doc_id, score, rank) — score rounded to 6 before
    ranking so engine-side float noise cannot flip rank boundaries.
    """
    qpos = (
        F.col(pos_col) if pos_col is not None else F.monotonically_increasing_id()
    )
    # norms once per row on the side selects, not per (qvec, corpus-vector) pair
    q = query_vecs.select(
        F.col(doc_col).alias("query_id"),
        qpos.alias("_qpos"),
        F.col(vec_col).alias("_qv"),
        norm(vec_col, dim).alias("_nq"),
    )
    d = doc_vecs.select(
        F.col(doc_col).alias("doc_id"),
        F.col(vec_col).alias("_dv"),
        norm(vec_col, dim).alias("_nd"),
    )
    per_qvec = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id", "_qpos")
        .agg(
            F.max(
                cosine_from_norms("_qv", "_dv", "_nq", "_nd", dim)
            ).alias("_mx")
        )
    )
    scores = per_qvec.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_mx"), 6).alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.5,
) -> DataFrame:
    """Corpus-hygiene outlier scoring for an embedding column: distance
    to the global centroid, z-scored over the corpus — flags corrupt /
    out-of-distribution vectors before they poison ANN indexes or
    semantic dedup.

    Scale shape: the centroid is a posexplode → groupBy(dim) average —
    map-side combined, so the shuffle carries ~64 rows per partition
    regardless of corpus size — folded back into ONE array row and
    broadcast; distances are then a single narrow JVM pass (zip_with +
    aggregate), and the (mean, stddev) normalizer is another 1-row
    broadcast. No driver-side collect anywhere.

    Output: (id, dist, z, is_outlier), dist/z rounded to 6.
    """
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    ex = v.select("_id", F.posexplode("_v").alias("_pos", "_x"))
    cent = (
        ex.groupBy("_pos")
        .agg(F.avg("_x").alias("_m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s["_m"],
            ).alias("_c")
        )
    )
    dists = v.crossJoin(F.broadcast(cent)).select(
        "_id",
        F.sqrt(
            F.aggregate(
                F.zip_with("_v", "_c", lambda x, m: (x - m) * (x - m)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
        ).alias("_dist"),
    )
    stats = dists.agg(
        F.avg("_dist").alias("_mu"), F.stddev_samp("_dist").alias("_sd")
    )
    z = (F.col("_dist") - F.col("_mu")) / F.col("_sd")
    return dists.crossJoin(F.broadcast(stats)).select(
        F.col("_id").alias(id_col),
        F.round("_dist", 6).alias("dist"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > z_threshold).alias("is_outlier"),
    )


def hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> list[list[list[float]]]:
    """Deterministic random hyperplanes [table][plane][dim] (seeded —
    reproducible across runs and executors; shipped as literals, i.e. a
    broadcast of ~tables*planes*dim floats)."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def _bucket_of(vec: Column, planes_col: Column) -> Column:
    """Bucket id = sign-bit string of the vector against each plane in
    `planes_col` (array<array<double>>). Plane p contributes bit 1<<p when
    the projection is non-negative — identical semantics to summing
    per-plane literals, but expressed over an array column so the whole
    signature is a handful of Catalyst nodes."""
    return F.aggregate(
        F.transform(
            planes_col,
            lambda plane, p: F.when(
                F.aggregate(
                    F.zip_with(vec, plane, lambda x, wgt: x * wgt),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0,
                F.call_function("shiftleft", F.lit(1), p),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, b: acc + b,
    )


def _signatures_all(vec: Column, tables: list[list[list[float]]]) -> Column:
    """array<struct<tbl,bucket>> — every table's signature in one compact
    expression over a single triple-nested literal. Replaces the per-table
    F.array(F.struct(...)) explosion that dominated plan-compile time."""
    lit = nested_double_lit(tables)
    return F.transform(
        lit,
        lambda planes, t: F.struct(
            t.alias("tbl"), _bucket_of(vec, planes).alias("bucket")
        ),
    )


def lsh_ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: per-table bucket join → exact cosine re-rank within
    candidates. Only bucket-colliding pairs are scored — at scale this is
    the difference between O(N·Q) and O(N·Q/2^planes · tables)."""
    tables = hyperplanes(dim, n_planes, n_tables, seed)

    def bucketize(df: DataFrame, side: str) -> DataFrame:
        sig = F.explode(_signatures_all(F.col(vec_col), tables)).alias("_s")
        return df.select(
            F.col(id_col).alias(f"{side}_id"), F.col(vec_col).alias(f"{side}_v"), sig
        ).select(
            f"{side}_id", f"{side}_v", F.col("_s.tbl").alias("tbl"), F.col("_s.bucket").alias("bucket")
        )

    qb = bucketize(queries, "q")
    # corpus-side signature derivation is the heavy per-row work
    cb = bucketize(spread_small_scan(candidates), "c")
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.col("q_v").alias("qv"),
            F.col("c_v").alias("cv"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", F.round(cosine("qv", "cv", dim), 6).alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scope: Column | None = None,
    max_unscoped_rows: int | None = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold).
    All-pairs within an optional blocking `scope` column (e.g. a coarse
    LSH bucket or label) — at 100 TB ALWAYS block first; the unblocked
    form is the sf-scale oracle baseline.

    The unscoped form broadcasts the b side, so its failure mode on an
    oversized input is a broadcast-build OOM, not the old slow-but-
    progressing CartesianProduct — `max_unscoped_rows`
    guards that with a LIMIT-bounded count and an actionable error
    (use `scope`/lsh_cosine_dup_pairs, or None to disable).

    NOTE: the unscoped guard is an EAGER Spark action
    (limit(cap+1).count()) at DataFrame-construction time — plan-only
    consumers of the unscoped form trigger that O(cap)-row scan on
    every call; pass max_unscoped_rows=None (or `scope`) to stay lazy."""
    # norms once per row on the O(n) side selects, not per pair in the
    # O(n²) join stage
    a = df.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        norm(vec_col, dim).alias("_na"),
        *([scope.alias("_scope")] if scope is not None else []),
    )
    b = df.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
        norm(vec_col, dim).alias("_nb"),
        *([scope.alias("_scope")] if scope is not None else []),
    )
    # unscoped all-pairs (the documented sf-scale baseline ONLY): the b
    # side broadcasts explicitly — with the shipped static-threshold-off
    # policy an un-hinted cross join plans CartesianProduct; the pin
    # keeps the BroadcastNestedLoopJoin shape at baseline scales and is
    # adjudicated as an sf_scaled pin because this form must never run
    # unblocked at corpus scale anyway (pass `scope`)
    if scope is not None:
        joined = a.join(b, ["_scope"])
    else:
        if (
            max_unscoped_rows is not None
            and df.limit(max_unscoped_rows + 1).count() > max_unscoped_rows
        ):
            raise ValueError(
                f"cosine_dup_pairs without `scope` broadcasts the full "
                f"input and it exceeds {max_unscoped_rows} rows — the "
                f"all-pairs baseline would die building the broadcast. "
                f"Block first: pass `scope` or use lsh_cosine_dup_pairs "
                f"(or raise max_unscoped_rows if it genuinely fits)."
            )
        # the O(n²) scoring runs on the probe side's partitions
        joined = spread_small_scan(a).crossJoin(F.broadcast(b))
    return (
        joined.filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                cosine_from_norms("va", "vb", "_na", "_nb", dim),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_cosine_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 3,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by hyperplane-LSH bucket —
    the scale path for `cosine_dup_pairs` (which is all-pairs unless given
    a scope). Only pairs colliding in ≥1 of `n_tables` bucket tables are
    scored, so the candidate set is O(N²·tables/2^planes) instead of
    O(N²), then an exact cosine verify applies `threshold`.

    Plan shape (mirrors dedup.minhash_lsh_pairs): slim (id, tbl, bucket)
    table persisted once (signatures are higher-order-fn expressions that
    Catalyst will not CSE across a self-join), oversized buckets dropped
    (`max_bucket` bounds the pair explosion under skew), pair join carries
    ids only, vectors re-attached just for the verify.

    Recall is (1-θ/π)^planes per table; size `n_planes` with
    estimate_bucket_width at production N. The defaults (3, 8) are tuned
    for the synthetic corpus whose "dups" sit at cos 0.4-0.51 (θ≈60°,
    the hardest regime) — at a production near-dup threshold (≥0.9,
    θ≤26°) the same structure holds ≥0.93 recall with 8+ planes and a
    far smaller candidate set."""
    tables = hyperplanes(dim, n_planes, n_tables, seed)
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_signatures_all(F.col(vec_col), tables)).alias("_s"),
    ).select("_id", F.col("_s.tbl").alias("tbl"), F.col("_s.bucket").alias("bucket"))
    bucketed = bucketed.persist()
    bucket_sizes = bucketed.groupBy("tbl", "bucket").agg(F.count("*").alias("_n"))
    bucketed = bucketed.join(
        bucket_sizes.filter(F.col("_n") > max_bucket), ["tbl", "bucket"], "left_anti"
    )
    pairs = (
        bucketed.select("tbl", "bucket", F.col("_id").alias("a"))
        .join(bucketed.select("tbl", "bucket", F.col("_id").alias("b")), ["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    # norm once per corpus row on the vector map, not per candidate pair
    vmap = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(vec_col, dim).alias("_n"),
    )
    return (
        pairs.join(
            vmap.select(
                F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("_na")
            ),
            "a",
        )
        .join(
            vmap.select(
                F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("_nb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.round(
                cosine_from_norms("va", "vb", "_na", "_nb", dim),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def fit_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int = 42,
    max_sample: int = 4096,
    n_iter: int = 20,
) -> list[list[float]]:
    """Coarse k-means quantizer fit on a bounded DETERMINISTIC sample —
    the FAISS-style production design: quantizer training is a driver-side
    problem on O(cells·256) sampled vectors (one bounded collect, the only
    one in this module); cell ASSIGNMENT — the corpus-scale work — stays a
    JVM-side argmin over centroid literals. Sample membership is
    xxhash64-ranked (pure function of id — reproducible regardless of
    partitioning), init is seeded k-means++, iteration is vectorized
    numpy Lloyd. Deterministic end to end."""
    import numpy as np

    sample = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)), F.col("_id"))
        .limit(max_sample)
        .collect()
    )
    x = np.array([r["_v"] for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    # k-means++ seeding
    centers = [x[rng.randint(len(x))]]
    for _ in range(1, min(n_cells, len(x))):
        d2 = np.min(
            [((x - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(x[rng.choice(len(x), p=probs)])
    c = np.array(centers)
    for _ in range(n_iter):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        newc = np.array(
            [x[assign == j].mean(axis=0) if (assign == j).any() else c[j] for j in range(len(c))]
        )
        if np.allclose(newc, c):
            break
        c = newc
    return [list(map(float, row)) for row in c]


def _cell_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """array<struct<d,cell>>: squared L2 distance from `vec` to every
    centroid. Centroids ship as ONE nested-array literal, so the whole
    n_cells*dim distance computation is a few Catalyst nodes — the naive
    per-float F.lit form built a >1000-node tree that cost ~3 s of
    driver-side compile per query at 16x64."""
    return F.transform(
        nested_double_lit(centroids),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("cell"),
        ),
    )


def ivf_ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer assigns every
    candidate to a cell; each query probes its n_probe nearest cells and
    re-ranks exactly within them. The industrial scale path when trained
    centroids are available (vs hyperplane LSH which needs no training).

    Implementation: quantizer fit by fit_quantizer (driver-side seeded
    k-means on a bounded deterministic sample — see its docstring for why
    that is the 10⁹-vector design); cell assignment is a JVM-side argmin
    over centroid literals, so the operator composes as a plain DataFrame
    function with no ML-fit job in the serving path."""
    centroids = fit_quantizer(candidates, id_col, vec_col, n_cells, seed)

    def nearest_cells(df: DataFrame, side: str, n: int) -> DataFrame:
        top = F.slice(F.array_sort(_cell_dists(F.col(vec_col), centroids)), 1, n)
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"{side}_v"),
            F.explode(top).alias("_c"),
        ).select(f"{side}_id", f"{side}_v", F.col("_c.cell").alias("cell"))

    cb = nearest_cells(candidates, "c", 1)  # candidates live in ONE cell
    qb = nearest_cells(queries, "q", n_probe)  # queries probe several
    cand = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round(cosine("q_v", "c_v", dim), 6).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/IO lever for
    a 100 TB embedding corpus (4× smaller than float32, 8× than float64;
    dot products on int8 stay SIMD-friendly downstream). Each vector
    stores one float scale = max(|x|)/127 and q[i] = round(x[i]/scale),
    clamped to [-127, 127]; zero vectors quantize to all-zero with scale
    0. Pure column expressions (transform/aggregate) — zero shuffle,
    scan-speed, and exactly reproducible in any engine (no RNG).

    Output: (id, scale, qvec array<int>, max_abs_err) where max_abs_err
    is the per-vector reconstruction error bound actually achieved —
    always ≤ scale/2."""
    absmax = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    # The internal name "_scale" must differ from the OUTPUT alias "scale":
    # Spark resolves a reference appearing after `round(..) AS scale` in the
    # same select list to that LATERAL ALIAS (the rounded value), silently
    # shadowing the input column of the same name — qvec/err would then be
    # computed against the rounded scale.
    d = df.select(
        F.col(id_col), F.col(vec_col).alias("_v"), (absmax / 127.0).alias("_scale")
    )
    q = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("_scale") == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / F.col("_scale")).cast("int")),
            )
        ),
    )
    err = F.aggregate(
        F.zip_with(
            F.col("_v"),
            q,
            lambda xv, qi: F.abs(xv - qi.cast("double") * F.col("_scale")),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    return d.select(
        id_col,
        F.round(F.col("_scale"), 9).alias("scale"),
        q.alias("qvec"),
        F.round(err, 9).alias("max_abs_err"),
    )


def estimate_bucket_width(n_vectors: int, target_bucket: int = 1 << 14) -> int:
    """Planes needed so expected bucket size ≈ target (capacity planning
    helper for the 100 TB path)."""
    return max(1, int(math.ceil(math.log2(max(n_vectors / target_bucket, 2)))))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal over
    an embedding column. A seeded k-means coarse quantizer assigns every
    vector to a cell; cosine pairs are scored ONLY within a cell; any id
    that pairs (cos >= threshold) with a smaller id is marked a duplicate
    (keep-smallest-id — deterministic, matching keep_survivors).

    Emits every input row as (id, cell, centroid_sim, is_dup) so the
    caller can either filter survivors or audit what was dropped.

    Scale shape: the pair stage is cosine_dup_pairs scoped by cell —
    pair work is sum(|cell|^2) instead of N^2, and cells are sized
    n_cells ~= sqrt(N). The quantizer is fit by fit_quantizer
    (driver-side seeded k-means on a bounded deterministic sample — the
    10^9-vector design); assignment stays JVM-side. Cross-cell near-dups
    are the recall loss the paper accepts; tighten by raising n_cells
    more slowly than N or probing neighbor cells. The quantizer is
    impl-defined, so certification is rows-only + planted-duplicate and
    cross-run-determinism pytests rather than a DuckDB oracle."""
    centroids = fit_quantizer(df, id_col, vec_col, n_cells, seed)
    best = F.element_at(F.array_sort(_cell_dists(F.col(vec_col), centroids)), 1)
    # cell assignment (n_cells×dim distance per row) is the heavy
    # corpus-side pass; the quantizer fit above samples the unspread df,
    # so the centroids do not depend on the spread
    cells = spread_small_scan(df).select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias(vec_col),
        best["cell"].alias("cell"),
    ).persist()
    pairs = cosine_dup_pairs(
        cells, id_col=id_col, vec_col=vec_col, threshold=threshold, scope=F.col("cell"),
        dim=dim,
    )
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return (
        cells.join(losers.withColumn("_dup", F.lit(True)), id_col, "left")
        .withColumn("_cent", F.element_at(F.lit(centroids), F.col("cell") + 1))
        .select(
            id_col,
            "cell",
            F.round(cosine(vec_col, "_cent", dim), 6).alias("centroid_sim"),
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def fit_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    max_sample: int = 4096,
    n_iter: int = 20,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split `dim` into `m` subspaces and
    k-means each on the same bounded deterministic sample fit_quantizer
    uses (driver-side numpy on O(sample·dim) floats; corpus-scale encode
    stays JVM-side). Returns [m][ksub][dim/m] centroids. 8×16 on 64-d
    compresses 256-byte float vectors to 8 one-byte codes (32×) — the
    FAISS IVF-PQ memory model that lets 10⁹-vector indexes fit in RAM."""
    import numpy as np

    assert dim % m == 0, "dim must divide into m subspaces"
    dsub = dim // m
    sample = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)), F.col("_id"))
        .limit(max_sample)
        .collect()
    )
    x = np.array([r["_v"] for r in sample], dtype=np.float64)
    books: list[list[list[float]]] = []
    for mi in range(m):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        rng = np.random.RandomState(seed + mi)
        centers = [xs[rng.randint(len(xs))]]
        for _ in range(1, min(ksub, len(xs))):
            d2 = np.min([((xs - c) ** 2).sum(axis=1) for c in centers], axis=0)
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            centers.append(xs[rng.choice(len(xs), p=probs)])
        c = np.array(centers)
        for _ in range(n_iter):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            newc = np.array(
                [xs[assign == j].mean(axis=0) if (assign == j).any() else c[j] for j in range(len(c))]
            )
            if np.allclose(newc, c):
                break
            c = newc
        books.append([list(map(float, row)) for row in c])
    return books


def _pq_codes(vec: Column, codebooks) -> Column:
    """codes array<int> of length m for one vector column: per-subspace
    argmin over the codebook literal (the column form, so callers can
    fuse the encode into a wider projection — see ivfpq_topk)."""
    dsub = len(codebooks[0][0])
    return F.transform(
        nested_double_lit(codebooks),
        lambda cb, mi: F.element_at(
            F.array_sort(
                F.transform(
                    cb,
                    lambda c, ci: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.slice(vec, mi * dsub + 1, dsub),
                                c,
                                lambda a, b: (a - b) * (a - b),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ).alias("d"),
                        ci.alias("code"),
                    ),
                )
            ),
            1,
        )["code"],
    )


def pq_encode(df: DataFrame, codebooks, id_col: str, vec_col: str) -> DataFrame:
    """(id, codes array<int> of length m): per-subspace argmin over the
    codebook literal — pure codegen'd column expressions, one narrow pass
    over the corpus (the shape every 10⁹-vector encode job needs)."""
    return df.select(
        F.col(id_col).alias("_id"), _pq_codes(F.col(vec_col), codebooks).alias("codes")
    )


def pq_adc_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    seed: int = 42,
) -> DataFrame:
    """PQ + asymmetric-distance top-k: candidates are scanned as m-byte
    codes (32× less memory traffic than raw floats); each query
    precomputes an m×ksub lookup table of subspace distances, so a
    candidate's approximate distance is m table lookups instead of dim
    multiply-adds. The approximate top-`rerank` per query re-ranks with
    exact cosine on the raw vectors (the standard recall repair). Queries
    broadcast (Q ≪ N); one window for the two top-k cuts."""
    books = fit_pq(candidates, id_col, vec_col, dim, m, ksub, seed)
    dsub = dim // m
    # the encode is the heavy corpus-side pass (m×ksub×dsub multiply-adds
    # + m interpreted array_sorts per row); fit_pq samples the unspread df
    coded = pq_encode(spread_small_scan(candidates), books, id_col, vec_col)

    qvec = F.col("_qv")
    lut = F.transform(
        nested_double_lit(books),
        lambda cb, mi: F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(qvec, mi * dsub + 1, dsub), c, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_lut", lut)

    adc = F.aggregate(
        F.zip_with(
            F.col("_lut"),
            F.col("codes"),
            lambda tbl, code: F.element_at(tbl, code + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wa = W.partitionBy("query_id").orderBy(F.asc("adc_d"), F.asc("_id"))
    approx = (
        coded.crossJoin(F.broadcast(q.select("query_id", "_lut")))
        .filter(F.col("_id") != F.col("query_id"))  # brute_force_topk contract
        .withColumn("adc_d", adc)
        .withColumn("_rk", F.row_number().over(wa))
        .filter(F.col("_rk") <= rerank)
        .select("query_id", F.col("_id").alias("neighbor_id"))
    )
    cand_vecs = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        approx.join(cand_vecs, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "_qv")), "query_id")
        # rerank is <= `rerank` rows per query — the HOF cosine's
        # interpreted cost is negligible there, while the unrolled form
        # would add ~400 plan nodes (see dot()); keep the compact tree
        .withColumn("cos_sim", F.round(cosine("_cv", "_qv"), 6))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the full FAISS-style index — coarse k-means cells bound
    WHICH candidates are scanned (n_probe/n_cells of the corpus), PQ
    codes bound HOW MUCH is read per candidate (m bytes), exact cosine
    re-ranks the survivors. Cell equi-join + code scan + one window;
    at 10⁹ vectors this is the structure that serves top-k from RAM."""
    centroids = fit_quantizer(candidates, id_col, vec_col, n_cells, seed)
    books = fit_pq(candidates, id_col, vec_col, dim, m, ksub, seed)
    dsub = dim // m

    best_cell = F.element_at(F.array_sort(_cell_dists(F.col(vec_col), centroids)), 1)["cell"]
    # codes + cell come out of ONE spread projection over the corpus
    # scan (no self-join of two derivations of it); the quantizer and
    # codebook fits above sample the unspread df
    coded = spread_small_scan(candidates).select(
        F.col(id_col).alias("_id"),
        _pq_codes(F.col(vec_col), books).alias("codes"),
        best_cell.alias("cell"),
    )

    qvec = F.col("_qv")
    lut = F.transform(
        nested_double_lit(books),
        lambda cb, mi: F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(qvec, mi * dsub + 1, dsub), c, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
    )
    probe_cells = F.slice(F.array_sort(_cell_dists(qvec, centroids)), 1, n_probe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_lut", lut)
        .withColumn("cell", F.explode(F.transform(probe_cells, lambda s: s["cell"])))
    )

    adc = F.aggregate(
        F.zip_with(
            F.col("_lut"), F.col("codes"), lambda tbl, code: F.element_at(tbl, code + 1)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wa = W.partitionBy("query_id").orderBy(F.asc("adc_d"), F.asc("_id"))
    approx = (
        coded.join(F.broadcast(q.select("query_id", "cell", "_lut")), "cell")
        .filter(F.col("_id") != F.col("query_id"))
        .withColumn("adc_d", adc)
        .withColumn("_rk", F.row_number().over(wa))
        .filter(F.col("_rk") <= rerank)
        .select("query_id", F.col("_id").alias("neighbor_id"))
    )
    cand_vecs = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        approx.join(cand_vecs, "neighbor_id")
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
            ),
            "query_id",
        )
        .withColumn("cos_sim", F.round(cosine("_cv", "_qv"), 6))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
