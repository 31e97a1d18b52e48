"""End-to-end oracle certification at sf0.001 for every registry query —
the fast mirror of the driver's t2 gate (full-scale run:
``python tools/run_oracle.py /root/testdata/sf0.01``)."""

from __future__ import annotations

import os
import re

import pytest

from ballista_mvp_spark.oracle import compare_strict
from ballista_mvp_spark.queries import ALL_ORACLES, ALL_QUERIES

from .conftest import SF_SMALL

# Default: a fast representative core (one per operator family). The full
# 80-query sweep runs via SPARK_GRAFT_FULL=1 or tools/run_oracle.py (the
# driver-gate mirror) — Spark per-query overhead makes all-by-default too
# slow for an inner-loop suite.
CORE = [
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q12", "tpch_q18",
    "projection", "filter_pred", "limit_offset", "sort_nulls",
    "join_left", "join_full", "join_semi", "join_nullsafe", "join_residual",
    "union_all", "intersect_op", "values_inline",
    "agg_basic", "agg_stats", "agg_distinct_filter", "agg_grouping_sets",
    "window_row_number", "window_lag_lead", "window_agg_rows_frame",
    "fn_math", "fn_string", "fn_regex", "fn_datetime", "fn_conditional",
    "events_hourly", "events_sessionize",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_embedding_exact", "sim_topk",
    "text_quality", "text_langid", "multimodal_meta", "multimodal_frames",
    "pipeline_split", "pipeline_pack", "text_repetition", "text_tfidf",
    "text_decontaminate", "dedup_clusters", "dedup_spans", "text_gopher",
    "pipeline_mixture", "pipeline_quota", "window_agg_groups_frame",
    "events_funnel", "events_anomaly", "events_cum_users",
    "events_session_window", "sql_tpch_q1",
    # round-3 driver-red rows, re-certified after the output-encoding
    # rewrite (arrays comma-joined / decimals CAST AS STRING) — kept in
    # CORE so a regression to driver-unsafe encodings is caught inner-loop
    "agg_quantiles", "fn_decimal", "fn_map", "fn_higher_order",
    "sim_quantize",
]

NAMES = sorted(ALL_QUERIES) if os.environ.get("SPARK_GRAFT_FULL") else CORE


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, duck_small):
    res = compare_strict(
        name, ALL_QUERIES[name](spark, SF_SMALL), ALL_ORACLES.get(name),
        duck_small,
    )
    assert res.ok, str(res)


def test_registry_shape():
    # every oracle key has a query; contract names are stable
    assert set(ALL_ORACLES) <= set(ALL_QUERIES)
    assert "tpch_q1" in ALL_QUERIES
    # rows-only queries are the documented sketch/nondeterministic set
    rows_only = set(ALL_QUERIES) - set(ALL_ORACLES)
    assert rows_only == {
        "agg_approx",
        "sketch_hll",
        "sketch_hll_windowed",
        "sketch_topk",
        "sketch_cms",
        "dedup_incremental_minhash",
        "dedup_embedding",
        "fn_hash_full",
        "fn_misc",
        "dedup_minhash",
        "dedup_simhash",
        "sim_ann_lsh",
        "sim_ann_pq",
        "sim_ann_ivfpq",
        "sim_ann_ivf",
        "multimodal_features",
        "dedup_semantic",
    }


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) == 6  # Q1 returnflag×linestatus groups
    assert set(E.oracle_sql()) <= set(E.queries())


@pytest.fixture(scope="module")
def registry_frames(spark):
    """Every registry query built once at sf0.001, for the contract tests
    that inspect plans and schemas."""
    return {name: build(spark, SF_SMALL) for name, build in ALL_QUERIES.items()}


def test_no_driver_unsafe_output_columns(registry_frames):
    """Registry contract: no oracle-backed query may emit a top-level
    array/map/struct/decimal column. The driver's pandas canonicalization
    crashes on container cells (``unhashable type: 'list'``) and renders
    Decimal engine-dependently — exactly the 5 red rows of
    CORRECTNESS_r03. Queries needing those types must pre-render
    (array_join / to_json / CAST AS STRING) on both engines."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    bad = []
    for name in sorted(ALL_ORACLES):
        schema = registry_frames[name].schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, DecimalType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"driver-unsafe output columns: {bad}"


def _python_nodes(plan):
    """Physical nodes with Python-worker metrics, descending through AQE
    query stages and into cached relations."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _python_nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _python_nodes(plan.plan())
        return
    if cls == "InMemoryTableScanExec":
        yield from _python_nodes(plan.relation().cachedPlan())
    if plan.metrics().contains("pythonNumRowsReceived"):
        yield cls, plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _python_nodes(kids.apply(i))


_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def test_python_stages_run_once(registry_frames):
    """Every Python stage in a registry query's final plan runs once: its
    rows received from the Python workers equal one evaluation of the
    node (its row count, recounted after the query). A global sort
    straight over a Python stage fails this: its range-partition sample
    job runs the Python tasks a second time (plans.sort_python_output)."""
    checked, twice = [], []
    for name, df in registry_frames.items():
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        if not any(_PY_NODE.search(n) for n in re.findall(r"^[\s:|+-]*(\w+)", optimized, re.M)):
            continue
        df.collect()
        # read every node's metric before any recount runs a node again
        nodes = [
            (cls, node, node.metrics().apply("pythonNumRowsReceived").value())
            for cls, node in _python_nodes(df._jdf.queryExecution().executedPlan())
        ]
        for cls, node, received in nodes:
            once = node.execute().count()
            checked.append(name)
            if received != once:
                twice.append((name, cls, received, once))
    assert {"udf_pandas_scalar", "udaf_apply_in_pandas"} <= set(checked), checked
    assert not twice, twice


def test_bench_membership_frozen():
    """BENCH_r01..r04 must stay cross-round comparable: the bench suite's
    membership and order are pinned by hash so a refactor cannot silently
    change what `value` measures."""
    import hashlib

    from bench import BENCH_QUERIES

    digest = hashlib.sha256(",".join(BENCH_QUERIES).encode()).hexdigest()
    assert digest == (
        "efbe756cb92dd942f5ff233360bcaf88d80bc8cf42d09ab6bcea31caa38c4a45"
    ), f"BENCH_QUERIES changed: {digest} — bench membership is frozen across rounds"


def test_registry_contract_hygiene():
    """Every registry entry obeys the driver contract mechanically:
    snake_case name, callable of (spark, sf_dir), oracle values are
    non-empty SELECT/WITH SQL strings."""
    import inspect
    import re

    for name, fn in ALL_QUERIES.items():
        assert re.fullmatch(r"[a-z0-9_]+", name), name
        assert callable(fn), name
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, (name, params)
    for name, sql in ALL_ORACLES.items():
        assert isinstance(sql, str) and sql.strip(), name
        head = sql.strip().split(None, 1)[0].upper()
        assert head in {"SELECT", "WITH"}, (name, head)


def test_certification_window_contract():
    """The certification run checks the first 50 registry entries:
    CERT_WINDOW leads the registry, holds 50 unique oracle-backed names
    (no rows-only member), and every oracle-backed query holds a
    hash-green row in the CORRECTNESS_r*.json ledger."""
    import glob
    import json

    from ballista_mvp_spark.queries import CERT_WINDOW

    assert list(ALL_QUERIES)[:50] == CERT_WINDOW
    assert len(set(CERT_WINDOW)) == 50
    assert set(CERT_WINDOW) <= set(ALL_ORACLES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            green |= {k for k, v in json.load(f).items() if v.get("hash_match") is True}
    missing = sorted(set(ALL_ORACLES) - green)
    assert not missing, f"oracle-backed queries with no hash-green ledger row: {missing}"


def test_q11_spec_variant_matches_duckdb(spark, duck_small):
    """The spec-faithful Q11 threshold variant (fraction = 0.0001/SF,
    TPC-H 2.18 §B.11) value-matches DuckDB. The SPEC fraction is empty
    on the synthetic proxy at every sf (measured in the docstring), so
    the value check runs at fraction=0.005 (98 rows at sf0.001) and a
    second assertion pins the documented emptiness of the spec default."""
    from ballista_mvp_spark.oracle import compare_strict
    from ballista_mvp_spark.queries.tpch import q11_spec

    sql = """
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS vc
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY 1)
    SELECT l_partkey, vc / 100.0 AS part_value
    FROM rev
    WHERE vc > (SELECT sum(vc) FROM rev) * 0.005
    ORDER BY part_value DESC, l_partkey
    """
    res = compare_strict(
        "q11_spec",
        q11_spec(spark, SF_SMALL, fraction=0.005),
        sql,
        duck_small,
    )
    assert res.ok, str(res)
    # the spec default (0.0001/SF -> 0.1 at sf0.001) is empty on this
    # proxy — which is exactly why it is NOT a registry/driver query
    assert q11_spec(spark, SF_SMALL).count() == 0
    # a non-'sf<float>' data dir (e.g. a tools/scale_ladder.py rung
    # instance) cannot derive the spec fraction — the error must be
    # actionable, not a bare float() ValueError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fraction= explicitly"):
        q11_spec(spark, "/tmp/scale_ladder_tpch_dim_0_abc123")
