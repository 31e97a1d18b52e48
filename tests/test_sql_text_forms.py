"""Operators that build their expression trees as SQL text (one parse per
expression instead of one py4j round trip per function call) must analyze
to the same canonical plan as the Column composition each one replaces:
equivalence by construction, not by sampled values. Literal types are
part of the plan, so a `0.2` that parsed as DECIMAL instead of DOUBLE
fails here."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ballista_mvp_spark.operators import dedup as D
from ballista_mvp_spark.operators import similarity as S
from ballista_mvp_spark.operators import text as TX
from ballista_mvp_spark.queries import ALL_QUERIES
from ballista_mvp_spark.tables import load_table

from .conftest import SF_SMALL


def _assert_same_plan(text_df, column_df):
    a = text_df._jdf.queryExecution().analyzed()
    b = column_df._jdf.queryExecution().analyzed()
    assert a.sameResult(b), (
        f"{a.canonicalized().toString()}\n!=\n{b.canonicalized().toString()}"
    )


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def test_literal_types_are_checked(spark):
    # the guard this file relies on: DOUBLE 0.2 and DECIMAL 0.2 differ
    df = spark.range(1)
    _assert_same_plan(df.selectExpr("0.2D AS x"), df.select(F.lit(0.2).alias("x")))
    with pytest.raises(AssertionError):
        _assert_same_plan(df.selectExpr("0.2 AS x"), df.select(F.lit(0.2).alias("x")))


@pytest.mark.parametrize("max_tokens", [None, 7])
def test_token_hashes(docs, max_tokens):
    _assert_same_plan(
        docs.select(D.token_hashes("text", max_tokens).alias("h")),
        docs.select(
            F.transform(D.tokens(F.col("text"), max_tokens), lambda t: F.xxhash64(t)).alias("h")
        ),
    )


@pytest.mark.parametrize("k", [1, 3])
def test_hashed_shingle_sets(docs, k):
    th = F.col("_th")
    if k == 1:
        hs = F.array_distinct(th)
    else:
        hs = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(th) - (k - 1), F.lit(1))),
                lambda i: F.xxhash64(*[F.get(th, i - 1 + j) for j in range(k)]),
            )
        )
    _assert_same_plan(
        D.hashed_shingle_sets(docs, "doc_id", "text", k, 50),
        docs.select(
            F.col("doc_id").alias("_id"),
            F.transform(D.tokens(F.col("text"), 50), lambda t: F.xxhash64(t)).alias("_th"),
        ).select("_id", hs.alias("_hs")),
    )


def test_minhash_bands(docs):
    num_hashes, bands = 16, 4
    r = num_hashes // bands
    hs = D.hashed_shingle_sets(docs, "doc_id", "text", 3)
    sig = hs.select(
        "_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda j: F.array_min(F.transform("_hs", lambda h: F.xxhash64(j, h))),
        ).alias("_sig"),
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.element_at("_sig", b * r + i + 1) for i in range(r)]).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh"))
    _assert_same_plan(D.minhash_bands(hs, num_hashes, bands), banded)


def test_simhash_signatures(docs):
    ex = D.hashed_shingle_sets(docs, "doc_id", "text", 3).select("_id", F.explode("_hs").alias("h"))
    votes = ex.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"_b{i}") for i in range(63)],
    )
    sh = None
    for i in range(63):
        bit = F.when(F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = bit if sh is None else sh + bit
    _assert_same_plan(D.simhash_signatures(docs, "doc_id", "text"), votes.select("_id", sh.alias("sh")))


def test_bucket_pairs_and_jaccard(spark):
    buckets = spark.createDataFrame(
        [([1, 4, 9], [1, 2, 3], [2, 3, 5])], "_ids array<bigint>, sh_a array<bigint>, sh_b array<bigint>"
    )
    n_ids = F.size("_ids")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n_ids - 1),
            lambda i: F.transform(
                F.slice(F.col("_ids"), i + 1, n_ids),
                lambda b: F.struct(F.get(F.col("_ids"), i - 1).alias("a"), b.alias("b")),
            ),
        )
    )
    _assert_same_plan(
        buckets.selectExpr(f"explode({D._BUCKET_PAIRS_SQL}) AS _p"),
        buckets.select(F.explode(pair_arr).alias("_p")),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    _assert_same_plan(
        buckets.selectExpr(f"{D._jaccard_sql('sh_a', 'sh_b')} AS jaccard").filter("jaccard >= 0.2D"),
        buckets.select(F.round(inter / union, 6).alias("jaccard")).filter(F.col("jaccard") >= 0.2),
    )


def test_hof_vector_kernels(emb):
    a, b = F.col("embedding"), F.col("v2")
    df = emb.select("embedding", F.col("embedding").alias("v2"))
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))

    d = norm(a) * norm(b)
    _assert_same_plan(
        df.select(
            S.dot("embedding", "v2").alias("d"),
            S.norm("embedding").alias("n"),
            S.cosine("embedding", "v2").alias("c"),
        ),
        df.select(
            dot.alias("d"),
            norm(a).alias("n"),
            F.when(d != 0, dot / d).otherwise(F.lit(0.0)).alias("c"),
        ),
    )
    df = df.select("embedding", "v2", F.lit(1.0).alias("na"), F.lit(2.0).alias("nb"))
    d = F.col("na") * F.col("nb")
    _assert_same_plan(
        df.select(S.cosine_from_norms("embedding", "v2", "na", "nb").alias("c")),
        df.select(F.when(d != 0, dot / d).otherwise(F.lit(0.0)).alias("c")),
    )


def test_brute_force_topk(emb):
    queries = emb.filter(F.col("vec_id") < 8)

    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v))

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("_nq")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), norm(F.col("embedding")).alias("_nc")
    )
    d = F.col("_nq") * F.col("_nc")
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.when(d != 0, dot / d).otherwise(F.lit(0.0)), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    column_form = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )
    _assert_same_plan(S.brute_force_topk(emb, queries, "vec_id", "embedding", k=5), column_form)


def test_text_quality(spark, docs):
    t = F.col("text")
    nc = F.greatest(F.char_length(t), F.lit(1))
    norm = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    s1 = docs.select(
        "doc_id",
        F.round((F.char_length(t) - F.char_length(F.regexp_replace(t, r"[^\w\s]", ""))) / nc, 6).alias(
            "punct_r"
        ),
        F.round(
            (F.char_length(t) - F.char_length(F.translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", ""))) / nc, 6
        ).alias("upper_r"),
        F.round((F.char_length(t) - F.char_length(F.translate(t, "0123456789", ""))) / nc, 6).alias(
            "digit_r"
        ),
        F.split(norm, " ").alias("_t"),
        F.char_length(norm).alias("_nlen"),
    )
    nt = F.size("_t")
    ntg = F.greatest(nt, F.lit(1))
    sw = F.array(*[F.lit(w) for w in TX.STOPWORDS["en"]])
    s2 = s1.select(
        "doc_id",
        "punct_r",
        "upper_r",
        "digit_r",
        F.round((F.col("_nlen") - (nt - 1)) / ntg, 6).alias("avg_wlen"),
        F.round(F.size(F.filter("_t", lambda x: F.array_contains(sw, x))) / ntg, 6).alias("sw_ratio"),
        nt.alias("_nw"),
    )
    len_ok = F.when((F.col("_nw") >= 5) & (F.col("_nw") <= 100000), 1.0).otherwise(0.3)
    noise = F.col("punct_r") + F.col("digit_r")
    noise_ok = F.when(noise < 0.2, 1.0).otherwise(F.greatest(F.lit(0.0), 1.0 - noise))
    sw_ok = F.least(F.col("sw_ratio") * 5, F.lit(1.0))
    column_form = s2.select(
        "doc_id",
        "punct_r",
        "upper_r",
        "digit_r",
        "avg_wlen",
        "sw_ratio",
        F.round(len_ok * 0.4 + noise_ok * 0.4 + sw_ok * 0.2, 6).alias("quality"),
    ).orderBy("doc_id")
    _assert_same_plan(ALL_QUERIES["text_quality"](spark, SF_SMALL), column_form)
