"""Plan-shape assertions — the 100 TB discipline checks.

These certify that the declarative queries compile to the plans we want
at scale: parquet filter pushdown reaches the scan, dimension joins
broadcast, top-k compiles to TakeOrderedAndProject (never a global sort),
and aggregations are two-phase (partial before the shuffle).
"""

from __future__ import annotations

from ballista_mvp_spark.queries.extensions import sim_topk
from ballista_mvp_spark.queries.relational import sort_topk
from ballista_mvp_spark.queries.tpch import q1, q3, q6

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q1_pushdown_and_partial_agg(spark):
    plan = _formatted(q1(spark, SF_SMALL))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # two-phase agg: a partial_ aggregate appears below the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_q6_all_filters_pushed(spark):
    plan = _formatted(q6(spark, SF_SMALL))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q3_broadcasts_dimension(spark):
    """Under the shipped broadcast policy (static threshold OFF, AQE
    runtime threshold decides — session.py, SCALE.md r9 'Broadcast
    policy'), broadcast is a RUNTIME decision: the pre-execution plan
    shows shuffle joins, and AQE converts the small filtered-customer
    side to BroadcastHashJoin from its materialized size. Execute, then
    assert on the final adaptive plan."""
    df = q3(spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(sort_topk(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage


def test_sim_topk_broadcasts_queries(spark):
    plan = _plan(sim_topk(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_embedding_has_no_cartesian(spark):
    """The headline embedding-dedup must be bucket-blocked: an equi-join
    on (tbl, bucket), never CartesianProduct / BroadcastNestedLoop —
    the O(N²) plan is reserved for the _exact oracle baseline."""
    from ballista_mvp_spark.queries.extensions import dedup_embedding

    plan = _plan(dedup_embedding(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_column_pruning_reaches_scan(spark):
    from pyspark.sql import functions as F

    from ballista_mvp_spark.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey").filter(F.col("l_orderkey") > 10)
    plan = _formatted(li)
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in schema and "l_extendedprice" not in schema


def test_quota_cap_is_window_group_limit(spark):
    """Per-domain top-k must pre-prune map-side (WindowGroupLimit), so the
    shuffle carries O(domains * quota * tasks) rows, not the corpus."""
    from ballista_mvp_spark.queries.pipeline import pipeline_quota

    plan = _plan(pipeline_quota(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_subqueries_decorrelate_to_joins(spark):
    """EXISTS / NOT IN through the SQL entry must become semi/anti hash
    joins (Catalyst decorrelation) — never a cartesian or per-row
    re-execution."""
    from ballista_mvp_spark.queries.relational import sql_subquery_exists_in

    plan = _plan(sql_subquery_exists_in(spark, SF_SMALL))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_shuffles_hashes_not_strings(spark):
    """dedup_spans' corpus-scale exchange must carry (id, pos, span-hash)
    rows — span hashes are longs, span STRINGS never leave the map side —
    and there must be no cartesian anywhere."""
    from ballista_mvp_spark.queries.pipeline import dedup_spans

    plan = _plan(dedup_spans(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    # the window's partition key is the span hash column `h`
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "hashpartitioning(h#" in plan


def test_runtime_bloom_filter_on_selective_fact_join(spark):
    """Spark injects a runtime bloom filter built from the selective side
    of a fact-fact join into the probe side's scan (row-group skipping at
    the source). Locally the probe side is far below the 10 GB
    applicationSideScanSizeThreshold, so we drop the threshold to emulate
    at-scale sizes — on a 100 TB lineitem the default config fires this
    path with no tuning."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.tables import load_table

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, SF_SMALL, "lineitem")
        o = load_table(spark, SF_SMALL, "orders")
        j = li.join(
            o.filter(F.col("o_totalprice") > 400000),
            li["l_orderkey"] == o["o_orderkey"],
        ).select("l_orderkey", "o_totalprice")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_substring_dedup_equijoin_on_hash_key(spark):
    """dedup_substring's self-join must be an equi-join on the 8-byte
    window key (hashpartitioning on h), never a cartesian; the scan must
    prune to (doc_id, text)."""
    from ballista_mvp_spark.queries.extensions import dedup_substring

    df = dedup_substring(spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(h#" in plan
    # ReadSchema pruning: only the two consumed columns reach the scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_fuzzy_dedup_blocked_equijoin(spark):
    """dedup_fuzzy must equi-join on the block key — the verify
    (levenshtein) runs as a post-join filter inside the block, so the
    plan must contain a hash-keyed join on _blk and no cartesian."""
    from ballista_mvp_spark.queries.extensions import dedup_fuzzy

    plan = _plan(dedup_fuzzy(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_blk#" in plan and "levenshtein" in plan


def test_pagerank_iterations_are_hash_joins(spark):
    """graph_pagerank's K iterations must each be an equi-join on the
    node key — no cartesian, no nested-loop — and the per-iteration
    contribution aggregate must be two-phase (partial_sum below the
    exchange)."""
    from ballista_mvp_spark.queries.events import graph_pagerank

    plan = _plan(graph_pagerank(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_maxsim_broadcasts_query_side(spark):
    """sim_maxsim: the multi-vector query side must broadcast (the
    corpus scan stays shuffle-free until the slim per-(query,doc)
    aggregate), and both aggregates must be map-side combined."""
    from ballista_mvp_spark.queries.extensions import sim_maxsim

    plan = _plan(sim_maxsim(spark, SF_SMALL))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan and "partial_sum" in plan


def test_join_partition_mode_hints(spark):
    """PartitionMode parity (reference HashJoinExecNode.PartitionMode,
    datafusion.proto:1173-1177: COLLECT_LEFT / PARTITIONED / AUTO).
    Spark's analogue: broadcast() forces COLLECT_LEFT, the merge /
    shuffle_hash hints force the PARTITIONED strategies even when the
    side is broadcastable, and no hint = AUTO (Catalyst + AQE decide).
    At 100 TB the hints are the escape hatch when stats mislead AUTO."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.tables import load_table

    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    # COLLECT_LEFT: explicit broadcast
    plan = _plan(o.join(F.broadcast(c), o.o_custkey == c.c_custkey))
    assert "BroadcastHashJoin" in plan
    # PARTITIONED (sort-merge): forced despite broadcastable size
    plan = _plan(o.join(c.hint("merge"), o.o_custkey == c.c_custkey))
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    # PARTITIONED (shuffled hash)
    plan = _plan(o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey))
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_dsir_no_cartesian_and_broadcast_ratio(spark):
    """text_dsir: the <=V+1-row ratio table broadcasts; the corpus-scale
    scoring join stays keyed (no cartesian anywhere); the per-doc sum is
    a two-phase aggregate."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.operators import text as TX
    from ballista_mvp_spark.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    df = TX.dsir_logweights(docs, "doc_id", "text", F.col("source") == "src0")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # vocab selection must be a per-partition top-k heap, never a global
    # row_number window single-partitioning the distinct-token table
    # (10^8-10^9 rows on a web corpus)
    assert "TakeOrdered" in plan
    assert "Window" not in plan


def test_tfidf_no_broadcast_pin_on_vocabulary(spark):
    """tfidf_topk: the document-frequency table is vocabulary-sized
    (10^8-10^9 distinct tokens on a web corpus) and must NEVER carry a
    pinned broadcast hint — the join back to the (doc, term) counts is
    keyed on `term` and AQE picks the strategy (it still broadcasts
    when the vocab is actually small; the assertion is on the LOGICAL
    plan's hints, not the physical choice). The only legitimate pin is
    the 1-row corpus-count cross join. Mirrors
    test_dsir_no_cartesian_and_broadcast_ratio (VERDICT r7 #2)."""
    from ballista_mvp_spark.operators import pipeline as P
    from ballista_mvp_spark.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    df = P.tfidf_topk(docs, "doc_id", "text", k=3)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly one broadcast pin survives: the 1-row count on the Cross join
    pinned = [l for l in opt.splitlines() if "strategy=broadcast" in l]
    assert len(pinned) == 1 and "Join Cross" in pinned[0], pinned
    # the vocabulary join is keyed on term and carries NO hint
    vocab_joins = [l for l in opt.splitlines() if "Join Inner" in l and "term" in l]
    assert vocab_joins and all("Hint" not in l and "hint" not in l for l in vocab_joins), vocab_joins
    # and nothing degenerates to a cartesian
    assert "CartesianProduct" not in _plan(df)


def test_spearman_windows_only_on_support(spark):
    """stats_spearman: the per-document table is NEVER ranked through a
    window — the only Window nodes run over the distinct-value support
    (each directly above its groupBy aggregate), and the value→rank maps
    come back to the per-doc rows via broadcast joins."""
    from ballista_mvp_spark.queries.extensions import stats_spearman

    df = stats_spearman(spark, SF_SMALL)
    df.collect()  # broadcast is a runtime (AQE) decision under the
    # shipped policy — assert on the final adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    lines = plan.splitlines()
    win_idx = [i for i, l in enumerate(lines) if "Window [" in l]
    assert win_idx, "expected support-rank windows in the plan"
    for i in win_idx:
        below = "\n".join(lines[i + 1 : i + 7])
        assert "HashAggregate" in below or "ObjectHashAggregate" in below, (
            f"Window at plan line {i} is not fed by an aggregate "
            f"(support table):\n{below}"
        )
    # the rank maps join back broadcast; the corpus side is never shuffled
    # for the join
    assert "BroadcastHashJoin" in plan


def test_zipf_top200_is_take_ordered(spark):
    """text_zipf's top-200 cut must compile to TakeOrderedAndProject
    (per-partition heaps), never a global row_number over the full
    distinct-term table (the dsir-vocab defect class)."""
    from ballista_mvp_spark.queries.extensions import text_zipf

    plan = _plan(text_zipf(spark, SF_SMALL))
    assert "TakeOrdered" in plan
    # the only Window runs over the 200 surviving rows, above the cut
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Window [" in l:
            below = "\n".join(lines[i + 1 : i + 6])
            assert "TakeOrdered" in below, below


def test_balanced_bins_no_corpus_window(spark):
    """pipeline_balanced_bins assembles the global (n_tok desc, doc_id)
    rank distributed: every single-partition exchange in the plan sits
    above an aggregate (the token-count support / final reduces), never
    above the per-document table, and the tie-rank window is PARTITIONED
    by n_tok."""
    from ballista_mvp_spark.queries.pipeline import pipeline_balanced_bins

    plan = _plan(pipeline_balanced_bins(spark, SF_SMALL))
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            below = "\n".join(lines[i + 1 : i + 4])
            assert "HashAggregate" in below or "ObjectHashAggregate" in below, (
                f"single-partition funnel over a non-aggregated input:\n{below}"
            )
    assert "BroadcastHashJoin" in plan  # support offsets join back broadcast


def test_stats_histogram_broadcasts_bounds(spark):
    """stats_histogram: the 7 percentile cut points reach every row via a
    broadcast (1-row table), never a shuffle of the fact side."""
    from ballista_mvp_spark.queries.extensions import stats_histogram

    plan = _plan(stats_histogram(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_corr_matrix_single_pass_no_cartesian(spark):
    """stats_corr_matrix: all six pairwise correlations fold into ONE
    two-phase aggregate over one lineitem scan — no self-joins, no
    cartesian, one exchange of a single partial-agg row."""
    from ballista_mvp_spark.queries.extensions import stats_corr_matrix

    plan = _plan(stats_corr_matrix(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # one scan feeds every corr moment sum
    assert plan.count("FileScan") == 1


def test_graph_components_edges_keyed_join_no_cartesian(spark):
    """graph_components edge construction: the rank->parent self-join is
    a keyed (lang, source, pr) equi-join — never a cartesian — and the
    iteration operates on (id)-keyed joins only."""
    from ballista_mvp_spark.queries.events import graph_components

    plan = _plan(graph_components(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_word_table_two_phase_agg(spark):
    """bpe_merges round aggregate: the pair-count groupBy over the
    vocabulary table is map-side combined (partial_sum below the
    exchange), and the argmax is TakeOrderedAndProject — never a global
    sort of the pair table."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    words = (
        docs.select(
            F.explode(
                F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " "), " ")
            ).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    state = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("s"), "c"
    )
    top = (
        state.select(F.split("s", " ").alias("t"), "c")
        .filter(F.expr("size(t) >= 2"))
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> t[i] || ' ' || t[i + 1])")
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(1)
    )
    plan = _plan(top)
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning — THE partitioned-fact scan technique at
    100 TB: joining a Hive-partitioned fact on its partition column with
    a filtered dim injects a dynamicpruningexpression into the scan's
    PartitionFilters, so only matching partitions are listed and read.
    Values verified against an unpartitioned compute of the same join."""
    import os

    from pyspark.sql import functions as F

    from ballista_mvp_spark.tables import load_table

    events = load_table(spark, SF_SMALL, "events")
    path = os.path.join(str(tmp_path), "events_part")
    events.write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("purchase", 1), ("signup", 2), ("click", 3)], ["event_type", "grp"]
    ).filter(F.col("grp") == 1)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _plan(joined)
    assert "dynamicpruningexpression" in plan.lower()
    got = {(r.event_type, r["count"]) for r in joined.collect()}
    want = {
        (r.event_type, r["count"])
        for r in events.filter(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert got == want and got


def test_bpe_encode_two_shuffles_no_python(spark):
    """bpe_encode: the merge chain runs over the vocab (between the word
    groupBy and the token groupBy — exactly two exchanges, both map-side
    combined), and no Python touches any row."""
    from ballista_mvp_spark.operators import text as TX
    from ballista_mvp_spark.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    enc = TX.bpe_encode(
        docs, "doc_id", "text", merges=["t h", "i n", "th e"]
    )
    plan = _plan(enc)
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phrase_search_filters_postings_before_shuffle(spark):
    """The inverted-index probe contract: the query-term filter runs in
    the same stage as the scan/explode (postings of the query's terms
    only enter any exchange), joins are equi-joins on (doc, position) —
    never a cartesian."""
    from ballista_mvp_spark.queries.extensions import text_phrase_search

    df = text_phrase_search(spark, SF_SMALL)
    df.collect()  # join strategy is a runtime (AQE) decision under the
    # shipped policy — assert on the final adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    # postings filter sits DIRECTLY above the posexplode (same stage —
    # nothing between the generate and the term IN (...) filter), and
    # the position constraint is a hash equi-join
    import re

    assert re.search(
        r"Filter \(term#\d+ IN \(table,hash\).*\n\s*\S*\s*\+- Generate posexplode",
        plan,
    ), plan
    assert "HashJoin" in plan


def test_ngram_novelty_no_cartesian_two_phase(spark):
    from ballista_mvp_spark.queries.extensions import text_ngram_novelty

    plan = _plan(text_ngram_novelty(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan  # df agg map-side combined


def test_curriculum_has_no_global_window(spark):
    """Curriculum staging must come from a broadcast quantile aggregate,
    not an ntile/row_number over a global ORDER BY (which would funnel
    the corpus through one partition)."""
    from ballista_mvp_spark.queries.pipeline import pipeline_curriculum

    plan = _plan(pipeline_curriculum(spark, SF_SMALL))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_sql_qualify_compiles_to_group_limit(spark):
    """The QUALIFY rewrite's rank filter must reach the optimizer as a
    window group limit (map-side per-group pruning before the shuffle),
    the same shape pipeline_quota is certified to."""
    from ballista_mvp_spark.queries.relational import sql_qualify

    plan = _plan(sql_qualify(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_minhash_det_banded_equijoin_no_cartesian(spark):
    """dedup_minhash_det's candidates must come from the (band, hash)
    equi-join and its verify stage must stay candidate-bounded — any
    cartesian/nested-loop would mean the LSH blocking collapsed."""
    from ballista_mvp_spark.queries.extensions import dedup_minhash_det

    plan = _plan(dedup_minhash_det(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan  # signature mins map-side combined


def test_simhash_det_integer_band_join_no_python(spark):
    """dedup_simhash_det: banded equi-join on integer (j, bv) keys, no
    Python evaluation anywhere, fingerprint sums map-side combined."""
    from ballista_mvp_spark.queries.extensions import dedup_simhash_det

    plan = _plan(dedup_simhash_det(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan


def test_embedding_det_code_equijoin_vectors_rejoin_keyed(spark):
    """dedup_embedding_det: candidates from the (table, code) equi-join
    with ids only; the 64-double vectors re-attach for the verify via
    KEYED equi-joins (AQE may pick broadcast at sf-small, but the query
    must not PIN a broadcast of the corpus-scale vector table — a
    10⁹×64-double broadcast cannot exist), and never a cartesian."""
    from ballista_mvp_spark.queries.extensions import dedup_embedding_det

    plan = _plan(dedup_embedding_det(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the verify joins are id-keyed equi-joins (broadcast-hash chosen by
    # AQE at this size is fine; the join keys must be the pair ids)
    assert "BroadcastHashJoin [a#" in plan or "Join [a#" in plan or "a#" in plan


def test_kcore_alive_joins_are_keyed(spark):
    """graph_kcore supersteps: every adjacency-restriction join is a
    node-id equi-join (hash or sort-merge), never a cartesian or
    nested-loop, and the per-round degree agg is two-phase (partial
    count below the exchange)."""
    from ballista_mvp_spark.queries.events import graph_kcore

    df = graph_kcore(spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in _formatted(df).lower() or "HashAggregate" in plan


def test_labelprop_neighbor_lookup_keyed(spark):
    """graph_labelprop supersteps: the neighbor-label lookup join is a
    keyed equi-join on the node id; the per-node winner is a window
    (rank over counts), never a cartesian anywhere."""
    from ballista_mvp_spark.queries.events import graph_labelprop

    plan = _plan(graph_labelprop(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_wedge_join_no_cartesian(spark):
    """graph_jaccard_links: the wedge join (co-neighbor pairing) is an
    equi-join on the shared-neighbor id, the existing-edge exclusion is
    an anti-join on (a, b), and the top-50 compiles to
    TakeOrderedAndProject — never a global sort or cartesian."""
    from ballista_mvp_spark.queries.events import graph_jaccard_links

    df = graph_jaccard_links(spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_scorecard_window_group_limit_and_broadcast_dims(spark):
    """market_supplier_scorecard: the top-3-per-nation rank filter must
    compile to WindowGroupLimit (pruning before the full window sort),
    the supplier/nation dims must broadcast, and no cartesian
    anywhere."""
    from ballista_mvp_spark.queries.relational import market_supplier_scorecard

    plan = _plan(market_supplier_scorecard(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ppr_iterations_are_hash_joins(spark):
    """graph_ppr: every propagation iteration joins on the node key (hash
    or sort-merge), the seed indicator is a keyed left join, and the only
    nested-loop is the 1-row |S| broadcast."""
    from ballista_mvp_spark.queries.events import graph_ppr

    plan = _plan(graph_ppr(spark, SF_SMALL))
    assert "CartesianProduct" not in plan


def test_salted_agg_two_stage_shape(spark):
    """agg_salted_skew: stage-1 partials group on (key, salt) BELOW an
    exchange on the bare key — i.e. two HashAggregate layers with the
    salt only in the inner one — and no cartesian anywhere."""
    from ballista_mvp_spark.queries.relational import agg_salted_skew

    plan = _plan(agg_salted_skew(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "_salt" in plan  # the salt key reaches the physical plan


def test_salted_join_keyed_on_key_and_salt(spark):
    """join_salted_skew: the join must be a hash/sort-merge equi-join
    whose key includes the salt (hot key spread over n_salt partitions),
    never a cartesian or nested loop."""
    from ballista_mvp_spark.queries.relational import join_salted_skew

    plan = _plan(join_salted_skew(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_salt" in plan


def test_decontaminate_probe_inversion(spark):
    """decontaminate(eval_bounded=True): the ONLY broadcast pin is on
    the eval (doc, shingle) pair table — the contractually bounded side
    — and the corpus side is never collapsed through a corpus-wide
    distinct (no aggregate between the train scan and the probe join).
    Guards the round-9 fix for a MEASURED static-planner failure: the
    old un-hinted semi join statically broadcast the CORPUS-derived
    distinct-shingle set (whose Catalyst estimate never grows) until
    the build died at ~67M shingles (SCALE.md; rerun with
    tools/scale_ladder.py text_decontaminate)."""
    from ballista_mvp_spark.queries.pipeline import text_decontaminate

    df = text_decontaminate(spark, SF_SMALL)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    pinned = [l for l in opt.splitlines() if "strategy=broadcast" in l]
    # exactly one pin: the shingle-keyed probe join, built on the eval side
    assert len(pinned) == 1 and "Join Inner" in pinned[0], pinned
    assert "rightHint=(strategy=broadcast)" in pinned[0], pinned
    # no LeftSemi remains in this shape (the old corpus-broadcast path)
    assert "LeftSemi" not in opt, [l for l in opt.splitlines() if "LeftSemi" in l]


def test_leakage_uses_shuffle_semi_join(spark):
    """decontaminate(eval_bounded=False) via pipeline_leakage: BOTH
    sides scale with the corpus, so the shingle semi-join must be a
    merge-hinted SHUFFLE join — no broadcast pin on either unbounded
    side, and the physical semi join is SortMergeJoin regardless of the
    (garbage) static size estimates."""
    from ballista_mvp_spark.queries.pipeline import pipeline_leakage

    df = pipeline_leakage(spark, SF_SMALL)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    semi = [l for l in opt.splitlines() if "Join LeftSemi" in l]
    assert semi and all("broadcast" not in l for l in semi), semi
    df.collect()
    execd = df._jdf.queryExecution().executedPlan().toString()
    phys_semi = [l for l in execd.splitlines() if "LeftSemi" in l and "Join" in l]
    assert phys_semi and all("SortMergeJoin" in l for l in phys_semi), phys_semi


def test_shipped_broadcast_policy(spark):
    """The broadcast-policy contract (SCALE.md r9 'Broadcast policy'):
    the shipped session must keep the STATIC threshold off and the AQE
    runtime threshold on — reverting either silently reintroduces the
    measured decon-class failure (static BroadcastHashJoin on an
    explode-derived corpus frame, death at ~67M rows instead of a
    graceful flip; tools/scale_ladder.py text_decontaminate)."""
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    assert (
        spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == "64m"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_langid_confusion_scores_corpus_once(spark):
    """text_langid_confusion derives its per-language totals from the
    confusion matrix: the totals branch must read the matrix's shuffle
    through a ReusedExchange, so the documents are scanned and scored
    once. A second scoring pass shows up as a second documents scan."""
    from ballista_mvp_spark.plans.metrics import collect_plan_metrics
    from ballista_mvp_spark.queries.extensions import text_langid_confusion

    df = text_langid_confusion(spark, SF_SMALL)
    df.collect()
    nodes = [cls for cls, _ in collect_plan_metrics(df).per_node]
    assert "ReusedExchangeExec" in nodes, nodes
    assert nodes.count("FileSourceScanExec") == 1, nodes
