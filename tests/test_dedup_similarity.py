"""Operator-level tests for the dedup/similarity extension operators:
sketch-path recall against exact ground truth, survivor semantics, and
numeric correctness of the JVM-side cosine."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ballista_mvp_spark.operators import dedup as D
from ballista_mvp_spark.operators import similarity as S
from ballista_mvp_spark.tables import load_table

from .conftest import SF_SMALL


def _exact_pairs(spark, threshold=0.5):
    docs = load_table(spark, SF_SMALL, "documents")
    return {
        (r.a, r.b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=threshold).collect()
    }


def test_minhash_recall_vs_exact(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    exact = _exact_pairs(spark, threshold=0.5)
    assert exact, "testdata should contain planted near-duplicates"
    found = {
        (r.a, r.b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    # verified-pairs property: every reported pair IS an exact pair
    assert found <= exact
    # LSH banding at (32,8) catches high-jaccard pairs reliably
    recall = len(found) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(exact)} pairs"


def test_megadoc_max_tokens_truncation(spark):
    """Pathological-document robustness: one 1 MB single-line doc is
    ~150k tokens → a ~150k-element hash array in ONE row. With
    `max_tokens` the pipeline completes with the megadoc capped, and
    every OTHER document's pair results are bit-identical to the run
    without the megadoc (truncation is local to the truncated doc)."""
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    words = " ".join(f"w{i % 997}x{i % 89}" for i in range(150_000))
    assert len(words) > 1_000_000
    mega_id = 10_000_000
    mega = spark.createDataFrame([(mega_id, words)], "doc_id long, text string")
    with_mega = docs.unionByName(mega)

    baseline = {
        (r.a, r.b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=4, jaccard_threshold=0.2
        ).collect()
    }
    capped = {
        (r.a, r.b)
        for r in D.minhash_lsh_pairs(
            with_mega,
            "doc_id",
            "text",
            num_hashes=16,
            bands=4,
            jaccard_threshold=0.2,
            max_tokens=5_000,
        ).collect()
    }
    # other docs' pairs unchanged by the planted megadoc
    assert {p for p in capped if mega_id not in p} == baseline

    # the knob actually truncates: capped token array length == max_tokens
    n = (
        mega.select(F.size(D.token_hashes("text", 5_000)).alias("n"))
        .head()
        .n
    )
    assert n == 5_000


def test_simhash_finds_planted_dups(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    exact = _exact_pairs(spark, threshold=0.8)  # strongest dups
    found = {
        (r.a, r.b)
        for r in D.simhash_pairs(docs, "doc_id", "text", max_hamming=12).collect()
    }
    hits = len(found & exact)
    assert hits >= len(exact) * 0.7, f"simhash caught {hits}/{len(exact)} strong dups"


def test_keep_survivors_drops_larger_ids(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    survivors = D.keep_survivors(docs, "doc_id", pairs)
    losers = {r.b for r in pairs.collect()}
    kept = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert kept.isdisjoint(losers)
    assert kept | losers == {r.doc_id for r in docs.select("doc_id").collect()}


def test_cosine_matches_python(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [3.0, 2.0, 1.0])], "id long, v array<double>"
    )
    a = df.filter("id=1").select(F.col("v").alias("a"))
    b = df.filter("id=2").select(F.col("v").alias("b"))
    got = a.crossJoin(b).select(S.cosine("a", "b").alias("c")).head().c
    expect = (1 * 3 + 2 * 2 + 3 * 1) / (math.sqrt(14) * math.sqrt(14))
    assert abs(got - expect) < 1e-12


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_ann_topk(emb, queries, dim=64, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall {recall:.2f}"  # random embeddings: weak clusters
    # every ANN result must carry a correctly-computed (verified) score
    assert all(r.rank <= 5 for r in S.lsh_ann_topk(emb, queries, dim=64, k=5).collect())


def test_lsh_embedding_dedup_recall_vs_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    exact = {
        (r.a, r.b)
        for r in S.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4).collect()
    }
    assert exact, "testdata should contain cos>=0.4 pairs"
    blocked = {
        (r.a, r.b)
        for r in S.lsh_cosine_dup_pairs(
            emb, dim=64, threshold=0.4, n_planes=3, n_tables=8
        ).collect()
    }
    # verified-pairs property: the exact cosine filter runs on candidates,
    # so every reported pair IS an exact pair (precision 1.0)
    assert blocked <= exact
    recall = len(blocked) / len(exact)
    assert recall >= 0.8, f"LSH-blocked dedup recall {recall:.2f} over {len(exact)} pairs"


def test_cosine_dup_pairs_unscoped_row_guard(spark):
    """The unscoped all-pairs form broadcasts the b side, so its
    failure mode on an oversized input is a broadcast-build OOM — the
    max_unscoped_rows guard fails actionably instead, and
    a scoped call never counts (the guard is unscoped-only)."""
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    with pytest.raises(ValueError, match="lsh_cosine_dup_pairs"):
        S.cosine_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4, max_unscoped_rows=10
        ).collect()
    # scoped path ignores the cap (blocking already bounds the join)
    scoped = S.cosine_dup_pairs(
        emb.withColumn("_blk", F.col("vec_id") % 4),
        "vec_id", "embedding", threshold=0.4,
        scope=F.col("_blk"), max_unscoped_rows=10,
    )
    assert scoped.count() >= 0  # compiles and runs under the tiny cap


def test_ivf_ann_recall_and_determinism(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    first = S.ivf_ann_topk(emb, queries, k=5, n_cells=8, n_probe=4).collect()
    again = S.ivf_ann_topk(emb, queries, k=5, n_cells=8, n_probe=4).collect()
    assert first == again  # seeded k-means → reproducible
    approx = {(r.query_id, r.neighbor_id) for r in first}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_containment_planted(spark):
    """A short doc whose text is verbatim inside a long doc must surface
    as (contained=short, container=long) with containment 1.0, while a
    Jaccard test at the same threshold would miss it."""
    from ballista_mvp_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon zeta"
    long = "intro words here " + short + " plus a very long unrelated tail " + \
        " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "совсем other content unrelated words entirely")],
        "doc_id long, text string",
    )
    rows = D.containment_pairs(df, "doc_id", "text", shingle_k=3, threshold=0.9).collect()
    assert [(r.contained, r.container, r.containment) for r in rows] == [(1, 2, 1.0)]
    jac = D.ngram_jaccard_pairs(df, "doc_id", "text", shingle_k=3, threshold=0.9).collect()
    assert jac == []


def test_semantic_dedup_planted_and_determinism(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # plant two exact copies of vector 0 under fresh ids — they MUST land
    # in the same k-means cell (identical vectors) and be flagged dups of
    # the original (keep-smallest-id)
    v0 = emb.filter(F.col("vec_id") == 0)
    planted = emb.union(
        v0.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    ).union(v0.select((F.col("vec_id") + 10_001).alias("vec_id"), "embedding", "label"))
    out1 = S.semantic_dedup(planted, "vec_id", "embedding", threshold=0.95, n_cells=8)
    rows1 = {r["vec_id"]: r for r in out1.collect()}
    assert len(rows1) == planted.count()  # every row labeled, none dropped
    assert rows1[10_000]["is_dup"] and rows1[10_001]["is_dup"]
    assert not rows1[0]["is_dup"]  # smallest id survives
    assert rows1[0]["cell"] == rows1[10_000]["cell"] == rows1[10_001]["cell"]
    assert rows1[10_000]["centroid_sim"] == rows1[0]["centroid_sim"]
    # seeded quantizer → identical output across runs
    out2 = S.semantic_dedup(planted, "vec_id", "embedding", threshold=0.95, n_cells=8)
    assert sorted(out1.collect()) == sorted(out2.collect())


def test_semantic_dedup_within_cell_agreement_with_exact(spark):
    """Within a cell, semantic_dedup must flag EXACTLY the ids the exact
    all-pairs cosine threshold flags (the cell blocking is the only
    approximation)."""
    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = S.semantic_dedup(emb, "vec_id", "embedding", threshold=0.4, n_cells=8)
    cells = {r["vec_id"]: r["cell"] for r in out.collect()}
    flagged = {r["vec_id"] for r in out.collect() if r["is_dup"]}
    exact_pairs = S.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4).collect()
    same_cell_losers = {r["b"] for r in exact_pairs if cells[r["a"]] == cells[r["b"]]}
    assert same_cell_losers <= flagged


def test_quantize_embeddings_bound_and_zero_vector(spark):
    from ballista_mvp_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25]), (1, [0.0, 0.0, 0.0]), (2, [3.0] * 3)],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<double>"))
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # reconstruction error bound: always <= scale/2 (+ tiny rounding slack)
    for r in out.values():
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9
    # zero vector -> scale 0, all-zero qvec, zero error
    assert out[1]["scale"] == 0.0 and out[1]["qvec"] == [0, 0, 0]
    assert out[1]["max_abs_err"] == 0.0
    # constant max vector -> q = +/-127 exactly
    assert out[2]["qvec"] == [127, 127, 127]
    assert out[0]["qvec"][1] == -127  # absmax element hits the rail


def test_sketch_hll_accuracy_and_merge(spark):
    """HLL estimates within 5% of exact per-type distinct users, and the
    union of per-type sketches equals a direct global sketch (the
    incremental-rollup contract: merge partials, never re-scan)."""
    from ballista_mvp_spark.queries.extensions import sketch_hll
    from .conftest import SF_MID

    est = {r.event_type: r.approx_users for r in sketch_hll(spark, SF_MID).collect()}
    e = load_table(spark, SF_MID, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    exact["__all__"] = e.select("user_id").distinct().count()
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.05 * n), (k, est[k], n)
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est")
    ).collect()[0].est
    assert est["__all__"] == direct


def test_pq_adc_recall_and_compression(spark):
    """PQ+ADC top-k: recall@5 vs brute force after exact re-rank, codes
    really are m small ints (the 32× compression), and the pipeline is
    deterministic across runs."""
    from ballista_mvp_spark.queries.extensions import sim_ann_pq
    from ballista_mvp_spark.operators import similarity as S2

    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.orderBy("vec_id").limit(5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S2.brute_force_topk(emb, queries, k=5).collect()
    }
    got_rows = sim_ann_pq(spark, SF_SMALL).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, recall
    again = {(r.query_id, r.neighbor_id) for r in sim_ann_pq(spark, SF_SMALL).collect()}
    assert got == again
    books = S2.fit_pq(emb, "vec_id", "embedding", dim=64)
    codes = S2.pq_encode(emb, books, "vec_id", "embedding").collect()
    assert all(len(r.codes) == 8 and all(0 <= c < 16 for c in r.codes) for r in codes)


def test_ivfpq_recall(spark):
    """Composed IVF-PQ: recall@5 vs brute force with 4/16 cells probed."""
    from ballista_mvp_spark.operators import similarity as S2
    from ballista_mvp_spark.queries.extensions import sim_ann_ivfpq

    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.orderBy("vec_id").limit(5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S2.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in sim_ann_ivfpq(spark, SF_SMALL).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall  # 4/16 cells probed bounds attainable recall


def test_substring_spans_planted(spark):
    """Planted-overlap exactness for substring_dup_spans: doc 1 and doc 2
    share one contiguous 30-token run (positions 11..40 in doc 1); no
    other cross-doc window repeats. The operator must report exactly one
    maximal span with exact boundaries, and merge-correctness means NO
    fragment rows survive alongside it."""
    uniq = [f"u{i}a{i * 7 % 101}" for i in range(200)]
    shared = [f"s{i}b{i * 13 % 103}" for i in range(30)]
    d1 = " ".join(uniq[:10] + shared + uniq[10:60])       # shared at 11..40
    d2 = " ".join(uniq[100:125] + shared + uniq[125:170])  # shared at 26..55
    d3 = " ".join(uniq[60:100])                            # no overlap
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = D.substring_dup_spans(
        df, "doc_id", "text", window=8, min_span_tokens=20
    ).collect()
    assert len(rows) == 1, rows
    r = rows[0]
    # matched window starts in doc 1: 11..33 (last w-window fully inside
    # the shared run starts at 40-8+1=33); span = [11, 33+7] = 30 tokens
    assert (r.a, r.b, r.a_start, r.a_end, r.dup_tokens) == (1, 2, 11, 40, 30)


def test_substring_spans_stop_window_cap(spark):
    """max_window_freq drops boilerplate windows shared by too many docs
    (the inverted-index stop-gram cap): with a 12-doc shared header and
    the cap below its fan-out, no pair survives; with the cap raised the
    full pair set appears. Bounds the self-join blow-up at scale."""
    header = " ".join(f"h{i}" for i in range(25))
    docs = [(i, header + " " + " ".join(f"d{i}q{j}" for j in range(20))) for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = D.substring_dup_spans(
        df, "doc_id", "text", window=8, min_span_tokens=20, max_window_freq=10
    )
    assert capped.count() == 0
    uncapped = D.substring_dup_spans(
        df, "doc_id", "text", window=8, min_span_tokens=20, max_window_freq=10_000
    )
    assert uncapped.count() == 12 * 11 // 2


def test_fuzzy_pairs_planted_and_block_cap(spark):
    """fuzzy_pairs finds a planted small-edit pair, reports the exact
    Levenshtein distance, and never pairs docs in different blocks even
    when globally similar; max_block drops degenerate blocks."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomoro")  # same prefix-24 block, small edit
    far = "zzz " + base  # different block, though globally similar
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    rows = D.fuzzy_pairs(df, "doc_id", "text", block_prefix=24, max_edit_distance=16).collect()
    assert [(r.a, r.b) for r in rows] == [(1, 2)]
    # levenshtein("today","tomoro") = 4: d->m, a->o, y->r subs + o insert
    assert rows[0].edit_distance == 4
    blocked = D.fuzzy_pairs(
        df, "doc_id", "text", block_prefix=24, max_edit_distance=16, max_block=1
    )
    assert blocked.count() == 0


def test_incremental_minhash_finds_planted_cross_dups(spark):
    """Batch docs near-duplicating a CORPUS doc must be flagged with the
    right corpus partner; batch-only and corpus-only uniques must not.
    Reported jaccard must be the exact set Jaccard (verified-pairs
    property)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated corpus text " * 10)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1, base + "tail tweak"),        # near-dup of corpus 100
         (2, "fresh batch document with its own words " * 8)],
        ["doc_id", "text"],
    )
    out = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in D.incremental_minhash_dedup(
            corpus, batch, "doc_id", "text", jaccard_threshold=0.5
        ).collect()
    }
    assert set(out) == {(1, 100)}, out
    assert 0.5 <= out[(1, 100)] <= 1.0


def test_cosine_zero_vector_yields_zero_not_divide_error(spark):
    """A zero-magnitude embedding must score 0.0 cosine against anything
    (ANSI session would otherwise raise DIVIDE_BY_ZERO and kill the job)."""
    from ballista_mvp_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = S.brute_force_topk(df, df, k=2).collect()
    zero_scores = [r.cos_sim for r in out if 2 in (r.query_id, r.neighbor_id)]
    assert zero_scores and all(s == 0.0 for s in zero_scores)
    # non-degenerate pairs unaffected
    ortho = [r.cos_sim for r in out if {r.query_id, r.neighbor_id} == {1, 3}]
    assert ortho and all(s == 0.0 for s in ortho)
    same = {(r.query_id, r.neighbor_id): r.cos_sim for r in out}
    assert same[(1, 3)] is not None


def test_ann_det_twins_recall_and_plan(spark):
    """The deterministic ANN twins (md5-Rademacher buckets / cells +
    exact re-rank) keep useful recall vs brute force AND compile to the
    broadcast shape: the corpus side is never shuffled for the candidate
    join, and no cartesian appears (the 16-centroid probe broadcast is a
    bounded nested-loop by construction)."""
    from ballista_mvp_spark.queries.extensions import (
        sim_ann_ivf_det,
        sim_ann_lsh_det,
        sim_ann_pq_det,
        sim_topk,
    )

    exact = {
        (r.query_id, r.neighbor_id) for r in sim_topk(spark, SF_SMALL).collect()
    }
    for fn, floor in (
        (sim_ann_lsh_det, 0.3),
        (sim_ann_ivf_det, 0.3),
        (sim_ann_pq_det, 0.3),
    ):
        df = fn(spark, SF_SMALL)
        approx = {(r.query_id, r.neighbor_id) for r in df.collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= floor, f"{fn.__name__} recall {recall:.2f}"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan


def test_hamming_band_pairs_bucket_cap_and_entropy_gate(spark):
    """A degenerate signature set (every doc shares one 16-bit chunk in
    band 0) turns that bucket's self-join quadratic; the opt-in
    max_bucket cap must drop ONLY the hot bucket's pairs (the survivors
    are exactly the plain result's pairs found via other bands), and
    signature_entropy must flag the degeneracy before the pair stage.
    Default (max_bucket=None) behavior stays byte-identical — the
    *_det oracle twins replay it."""
    from ballista_mvp_spark.operators.dedup import (
        hamming_band_pairs,
        signature_entropy,
    )

    # 40 signatures: band-0 chunk identical (0xAAAA) for ALL, other
    # bands well-spread except one true near-dup pair (ids 0/1 differ
    # in 1 bit inside band 3)
    base = 0xAAAA
    rows = []
    for i in range(40):
        sh = base | (i << 16) | ((i * 7 + 1) << 32) | ((i * 13 + 5) << 48)
        rows.append((i, sh))
    rows[1] = (1, rows[0][1] ^ (1 << 48))  # ids 0/1: hamming 1, band 3
    sigs = spark.createDataFrame(rows, "_id long, sh long")

    health = signature_entropy(sigs)
    assert health["n"] == 40 and health["distinct_ratio"] == 1.0
    assert health["max_bucket"] == 40  # the degenerate band-0 bucket
    assert health["max_bucket_share"] == 1.0

    plain = hamming_band_pairs(sigs, max_hamming=1)
    capped = hamming_band_pairs(sigs, max_hamming=1, max_bucket=10)
    plain_pairs = {(r["a"], r["b"]) for r in plain.collect()}
    capped_pairs = {(r["a"], r["b"]) for r in capped.collect()}
    # the true near-dup survives the cap via its non-degenerate bands
    assert (0, 1) in capped_pairs
    assert capped_pairs <= plain_pairs
    # and the cap dropped nothing real: band-0's mega-bucket candidates
    # all fail the hamming<=1 verify anyway, so results are EQUAL here
    assert capped_pairs == plain_pairs
