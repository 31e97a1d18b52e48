"""Engine façade + scalar-function parity-table tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_mvp_spark.engine import Engine
from ballista_mvp_spark.functions.scalar import FUNCTIONS, similar_to_regex

from .conftest import SF_SMALL


def test_function_table_covers_reference_enum():
    # 73 ScalarFunction enum entries (datafusion.proto:448-522) — our table
    # carries all of them plus SimilarTo; spot-check the exact count of
    # proto-declared names present.
    proto_names = {
        "Abs", "Acos", "Asin", "Atan", "Ascii", "Ceil", "Cos", "Digest", "Exp",
        "Floor", "Ln", "Log", "Log10", "Log2", "Round", "Signum", "Sin", "Sqrt",
        "Tan", "Trunc", "Array", "RegexpMatch", "BitLength", "Btrim",
        "CharacterLength", "Chr", "Concat", "ConcatWithSeparator", "DatePart",
        "DateTrunc", "InitCap", "Left", "Lpad", "Lower", "Ltrim", "MD5",
        "NullIf", "OctetLength", "Random", "RegexpReplace", "Repeat", "Replace",
        "Reverse", "Right", "Rpad", "Rtrim", "SHA224", "SHA256", "SHA384",
        "SHA512", "SplitPart", "StartsWith", "Strpos", "Substr", "ToHex",
        "ToTimestamp", "ToTimestampMillis", "ToTimestampMicros",
        "ToTimestampSeconds", "Now", "Translate", "Trim", "Upper", "Coalesce",
        "Power", "StructFun", "FromUnixtime", "Atan2", "DateBin", "ArrowTypeof",
        "CurrentDate", "CurrentTime", "Uuid",
    }
    assert len(proto_names) == 73
    missing = proto_names - set(FUNCTIONS)
    assert not missing, f"parity table missing: {missing}"


@pytest.mark.parametrize(
    "pattern,regex",
    [
        ("abc", "^abc$"),
        ("a%c", "^a.*c$"),
        ("a_c", "^a.c$"),
        ("a.c", "^a\\.c$"),
        ("(x|y)%", "^(x|y).*$"),
        ("a[0-9]_", "^a[0-9].$"),
    ],
)
def test_similar_to_translation(pattern, regex):
    assert similar_to_regex(pattern) == regex


def test_engine_lifecycle(spark):
    eng = Engine(spark=spark, seed=7)
    eng.create_external_table("t_li", f"{SF_SMALL}/lineitem.parquet", "parquet")
    assert "t_li" in eng.list_tables()
    n = eng.sql("SELECT count(*) AS n FROM t_li").head().n
    assert n > 0
    eng.create_view("t_v", "SELECT l_orderkey FROM t_li WHERE l_quantity > 10")
    assert eng.sql("SELECT count(*) AS n FROM t_v").head().n < n
    ps = eng.prepare("SELECT count(*) AS n FROM t_li WHERE l_quantity > :q")
    n45 = eng.execute_prepared(ps.handle, args={"q": 45}).head().n
    n5 = eng.execute_prepared(ps.handle, args={"q": 5}).head().n
    assert n45 < n5
    job_id, rows = eng.run_job(eng.sql("SELECT 1 AS one"), "smoke")
    assert rows[0].one == 1 and len(job_id) == 7
    assert "struct" in eng.table_schema("t_li")


def test_engine_create_database(spark):
    eng = Engine(spark=spark)
    eng.create_database("eng_db_test")
    try:
        assert "eng_db_test" in eng.list_databases()
        eng.create_database("eng_db_test")  # IF NOT EXISTS: no error
    finally:
        spark.sql("DROP DATABASE IF EXISTS eng_db_test")


def test_engine_runtime_metrics_tpch_q3(spark):
    """Per-query runtime metrics (≅ reference api/handlers.rs:184-243):
    tpch_q3 is a fact-fact join + agg, so its executed plan must report
    non-zero shuffle traffic, file-scan rows, and completed tasks."""
    from ballista_mvp_spark.queries.tpch import q3

    eng = Engine(spark=spark, seed=11)
    job_id, rows, qm = eng.run_job_with_metrics(q3(spark, SF_SMALL), "q3 metrics")
    assert len(job_id) == 7 and rows
    assert qm.output_rows == len(rows)
    assert qm.scan_rows > 0 and qm.scan_files > 0
    assert qm.num_shuffle_exchanges >= 1
    assert qm.shuffle_records_written > 0
    assert qm.shuffle_bytes_written > 0
    assert qm.num_broadcast_exchanges >= 1  # dim joins stay broadcast
    assert qm.num_stages >= 1 and qm.num_tasks >= 1
    assert qm.wall_time_sec > 0
    d = qm.as_dict()
    assert d["shuffle_records_written"] == qm.shuffle_records_written


def test_engine_metrics_bucketed_join_zero_exchanges(spark):
    """The bucketed co-located join must report ZERO shuffle exchanges in
    its runtime metrics — the metric surface sees what the plan assertion
    in test_sources_types.test_bucketed_join_skips_shuffle sees."""
    import os

    from ballista_mvp_spark import sources
    from ballista_mvp_spark.tables import load_table
    from tests.test_sources_types import SCRATCH

    os.makedirs(SCRATCH, exist_ok=True)
    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    sources.write_bucketed_table(
        orders, "orders_mb", 4, ["o_orderkey"], sort_cols=["o_orderkey"],
        path=os.path.join(SCRATCH, "orders_mb"),
    )
    sources.write_bucketed_table(
        li, "lineitem_mb", 4, ["l_orderkey"], sort_cols=["l_orderkey"],
        path=os.path.join(SCRATCH, "lineitem_mb"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = sources.read_bucketed_table(spark, "orders_mb")
        lb = sources.read_bucketed_table(spark, "lineitem_mb")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy("o_orderstatus").count()
        eng = Engine(spark=spark, seed=12)
        _, rows, qm = eng.run_job_with_metrics(joined, "bucketed join")
        assert rows
        # the join itself is exchange-free; the only shuffle is the final
        # 3-group aggregation, whose traffic is a few hundred bytes
        assert qm.num_shuffle_exchanges <= 1
        assert qm.shuffle_records_written <= 32 * 3
        assert qm.num_broadcast_exchanges == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_mb")
        spark.sql("DROP TABLE IF EXISTS lineitem_mb")


def test_date_bin_shim(spark):
    from ballista_mvp_spark.functions.scalar import date_bin

    df = spark.sql("SELECT timestamp'2024-01-01 10:17:33' AS ts")
    got = df.select(F.date_format(date_bin(900, F.col("ts")), "HH:mm:ss").alias("b")).head().b
    assert got == "10:15:00"


def test_approx_aggregates_within_bounds(spark):
    """The rows-only agg_approx query's sketches must land near exact
    values (HLL ±5% at default rsd; percentile_approx within the value
    range) — the accuracy contract behind the weaker driver check."""
    from ballista_mvp_spark.queries.relational import agg_approx
    from ballista_mvp_spark.tables import load_table

    import pyspark.sql.functions as F

    li = load_table(spark, SF_SMALL, "lineitem")
    exact = {
        r.l_returnflag: (r.nd, r.med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.median("l_quantity").alias("med"),
        )
        .collect()
    }
    for r in agg_approx(spark, SF_SMALL).collect():
        nd_exact, med_exact = exact[r.l_returnflag]
        assert abs(r.apx_nd - nd_exact) / nd_exact < 0.05
        assert abs(r.apx_med - med_exact) <= 2  # quantile sketch tolerance


def test_trunc_number_negative(spark):
    from ballista_mvp_spark.functions.scalar import trunc_number

    df = spark.createDataFrame([(-3.77,), (3.77,)], "x double")
    got = sorted(r.t for r in df.select(trunc_number(F.col("x"), 1).alias("t")).collect())
    assert got == [-3.7, 3.7]


def test_engine_bucketed_table(spark, tmp_path):
    eng = Engine(spark=spark, seed=11)
    df = spark.range(100).withColumnRenamed("id", "k")
    back = eng.create_bucketed_table(
        "eng_bucketed", df, 4, ["k"], sort_cols=["k"], path=str(tmp_path / "eng_bucketed")
    )
    try:
        assert back.count() == 100
        assert spark.catalog.tableExists("eng_bucketed")
    finally:
        spark.sql("DROP TABLE IF EXISTS eng_bucketed")


def test_engine_insert_into_writable_table(spark, tmp_path):
    """DML through the SQL entry: CREATE TABLE ... USING parquet LOCATION
    (a writable catalog table, vs create_external_table's read-only view)
    then INSERT INTO VALUES / INSERT INTO SELECT, read back exactly."""
    eng = Engine(spark=spark)
    loc = str(tmp_path / "ins_tbl")
    eng.sql(f"CREATE TABLE ins_tbl (id BIGINT, tag STRING) USING parquet LOCATION '{loc}'")
    try:
        eng.sql("INSERT INTO ins_tbl VALUES (1, 'a'), (2, 'b')")
        eng.sql("INSERT INTO ins_tbl SELECT 3 AS id, 'c' AS tag")
        rows = {(r.id, r.tag) for r in eng.sql("SELECT id, tag FROM ins_tbl").collect()}
        assert rows == {(1, "a"), (2, "b"), (3, "c")}
    finally:
        eng.sql("DROP TABLE IF EXISTS ins_tbl")


def test_create_catalog_round_trips_second_catalog(spark):
    """Multi-catalog DDL (≅ CreateCatalogNode): a second top-level
    catalog is registered at runtime, a table round-trips through it
    under fully-qualified names, it joins against the session catalog,
    and USE switches between catalogs."""
    eng = Engine(spark=spark)
    cats = eng.create_catalog("ref2")
    assert "ref2" in cats and "spark_catalog" in cats
    eng.sql("CREATE SCHEMA IF NOT EXISTS ref2.app")
    eng.sql("DROP TABLE IF EXISTS ref2.app.cat_probe")
    eng.sql("CREATE TABLE ref2.app.cat_probe (id BIGINT, tag STRING)")
    try:
        eng.sql("INSERT INTO ref2.app.cat_probe VALUES (1,'a'), (2,'b'), (3,'c')")
        rows = {
            (r.id, r.tag)
            for r in eng.sql("SELECT id, tag FROM ref2.app.cat_probe").collect()
        }
        assert rows == {(1, "a"), (2, "b"), (3, "c")}
        # cross-catalog join: V2 catalog table ⋈ session-catalog view
        spark.createDataFrame(
            [(1, "x"), (3, "y")], "id bigint, v string"
        ).createOrReplaceTempView("cat_probe_local")
        joined = {
            (r.id, r.tag, r.v)
            for r in eng.sql(
                "SELECT t.id, t.tag, l.v FROM ref2.app.cat_probe t "
                "JOIN cat_probe_local l ON t.id = l.id"
            ).collect()
        }
        assert joined == {(1, "a", "x"), (3, "c", "y")}
        # USE switches the current catalog and back
        eng.sql("USE ref2.app")
        assert spark.catalog.currentCatalog() == "ref2"
        assert "cat_probe" in [t.name for t in spark.catalog.listTables()]
    finally:
        eng.sql("USE spark_catalog.default")
        eng.sql("DROP TABLE IF EXISTS ref2.app.cat_probe")


def test_analyze_table_records_stats_for_cbo(spark):
    """ANALYZE TABLE feeds Catalyst's CBO: catalog stats carry real byte
    and row counts after analysis (join reordering / broadcast decisions
    then use them instead of raw file sizes)."""
    eng = Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS stats_probe")
    spark.sql(
        "CREATE TABLE stats_probe USING parquet LOCATION "
        f"'{SF_SMALL}/nation.parquet'"
    )
    try:
        out = eng.analyze_table("stats_probe")
        assert "bytes" in out["statistics"], out
        assert "25 rows" in out["statistics"], out
        out2 = eng.analyze_table("stats_probe", columns=["n_nationkey"])
        assert "bytes" in out2["statistics"]
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_probe")


def test_estimate_uses_cbo_stats(spark):
    """Plan-statistics estimates without execution; rowCount appears once
    ANALYZE TABLE has fed the CBO."""
    eng = Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS est_probe")
    spark.sql(
        f"CREATE TABLE est_probe USING parquet LOCATION '{SF_SMALL}/region.parquet'"
    )
    try:
        est0 = eng.estimate("SELECT * FROM est_probe")
        assert est0["size_in_bytes"] > 0
        eng.analyze_table("est_probe")
        est1 = eng.estimate("SELECT * FROM est_probe")
        assert est1["row_count"] == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS est_probe")


def test_cache_table_pins_in_memory_relation(spark):
    """Engine.cache_table: the table's subsequent plans must scan the
    in-memory columnar relation, not the parquet source; uncache
    restores the file scan."""
    from ballista_mvp_spark.engine import Engine

    eng = Engine(spark)
    eng.register_testdata(SF_SMALL)
    try:
        eng.cache_table("nation")
        assert eng.is_cached("nation")
        plan = spark.sql("SELECT count(*) FROM nation")._jdf.queryExecution().executedPlan().toString()
        assert "In-memory table" in plan or "InMemoryRelation" in plan
        assert spark.sql("SELECT count(*) FROM nation").first()[0] == 25
    finally:
        eng.uncache_table("nation")
    assert not eng.is_cached("nation")
    plan = spark.sql("SELECT count(*) FROM nation")._jdf.queryExecution().executedPlan().toString()
    assert "In-memory table" not in plan and "InMemoryRelation" not in plan


def test_create_masked_view_governance(spark):
    """Masked view: expression masks, PII scrubbing, and column drops
    compose into a pure projection the consumer queries like any table —
    raw values never reachable through the view."""
    from ballista_mvp_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(1, "alice", "reach me at alice@example.com", 9100.0),
         (2, "bob", "call 555-123-4567 now", 50.0)],
        "id long, name string, notes string, balance double",
    ).createOrReplaceTempView("accounts_raw")
    eng.create_masked_view(
        "accounts_safe",
        "accounts_raw",
        masks={"name": "concat(substr(name, 1, 1), '***')"},
        scrub_pii=["notes"],
        drop=["balance"],
    )
    rows = {r.id: r for r in eng.sql("SELECT * FROM accounts_safe").collect()}
    assert set(rows[1].asDict()) == {"id", "name", "notes"}  # balance gone
    assert rows[1].name == "a***" and rows[2].name == "b***"
    assert "alice@example.com" not in rows[1].notes and "<EMAIL>" in rows[1].notes
    assert "555-123-4567" not in rows[2].notes and "<PHONE>" in rows[2].notes


def test_rewrite_distinct_on_passthrough_and_shape():
    from ballista_mvp_spark.engine import _rewrite_distinct_on

    # no DISTINCT ON -> byte-identical passthrough
    q = "SELECT a, b FROM t ORDER BY a"
    assert _rewrite_distinct_on(q) == q
    # 'DISTINCT ON' inside a string literal is not top-level syntax; the
    # statement does not START with it, so it passes through
    q2 = "SELECT 'DISTINCT ON (x)' AS s FROM t"
    assert _rewrite_distinct_on(q2) == q2
    # rewrite shape: window subquery + __don__ = 1 filter + ORDER BY kept
    out = _rewrite_distinct_on(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC"
    )
    assert "row_number() OVER (PARTITION BY k ORDER BY k, v DESC" in out
    assert "__don__ = 1" in out
    assert out.rstrip().endswith("ORDER BY k, v DESC")


def test_distinct_on_semantics_match_window_form(spark):
    from ballista_mvp_spark.engine import Engine

    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (2, 3, "c"), (2, 3, "d")],
        ["k", "v", "tag"],
    )
    df.createOrReplaceTempView("don_t")
    rows = Engine(spark).sql(
        "SELECT DISTINCT ON (k) k, v, tag FROM don_t ORDER BY k, v DESC, tag"
    ).collect()
    # k=1 -> highest v (9, 'b'); k=2 -> tie on v, smallest tag ('c')
    assert [(r.k, r.v, r.tag) for r in rows] == [(1, 9, "b"), (2, 3, "c")]


def test_rewrite_distinct_on_keyword_boundary():
    from ballista_mvp_spark.engine import _rewrite_distinct_on

    # a word that merely STARTS with 'DISTINCT ON' is not the clause
    q = "SELECT DISTINCT ONE FROM t"
    assert _rewrite_distinct_on(q) == q


def test_rewrite_qualify_preserves_leading_with_clause(spark):
    """ADVICE r5 (high): a leading WITH clause must survive the QUALIFY
    rewrite — the old rewrite started at the first top-level SELECT and
    silently dropped the CTE definitions."""
    from ballista_mvp_spark.engine import Engine, _rewrite_qualify

    q = (
        "WITH c AS (SELECT 1 AS k, 10 AS v UNION ALL SELECT 1, 20 "
        "UNION ALL SELECT 2, 5) "
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn "
        "FROM c QUALIFY rn = 1 ORDER BY k"
    )
    out = _rewrite_qualify(q)
    assert out.startswith("WITH c AS"), out  # CTE prefix preserved verbatim
    rows = Engine(spark).sql(q).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 20), (2, 5)]


def test_rewrite_distinct_on_preserves_leading_with_clause(spark):
    from ballista_mvp_spark.engine import Engine, _rewrite_distinct_on

    q = (
        "WITH c AS (SELECT 1 AS k, 10 AS v UNION ALL SELECT 1, 20 "
        "UNION ALL SELECT 2, 5) "
        "SELECT DISTINCT ON (k) k, v FROM c ORDER BY k, v DESC"
    )
    out = _rewrite_distinct_on(q)
    assert out.startswith("WITH c AS"), out
    rows = Engine(spark).sql(q).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 20), (2, 5)]


def test_rewrite_qualify_bounds_predicate_at_set_operator(spark):
    """ADVICE r5: a trailing top-level set operation must bound the
    QUALIFY predicate (DuckDB parses QUALIFY into the first branch), not
    be absorbed into it."""
    from ballista_mvp_spark.engine import Engine, _rewrite_qualify

    q = (
        "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM "
        "(SELECT 1 AS k UNION ALL SELECT 2) "
        "QUALIFY rn = 1 UNION ALL SELECT 99, 99"
    )
    out = _rewrite_qualify(q)
    assert "UNION ALL SELECT 99, 99" in out  # union survives outside the pred
    got = sorted((r[0], r[1]) for r in Engine(spark).sql(q).collect())
    assert got == [(1, 1), (99, 99)]


def test_rewrite_distinct_on_bails_on_set_operator():
    """DISTINCT ON followed by a top-level set operator returns the text
    unchanged (documented bail: Spark's parse error on the original beats
    a malformed rewrite)."""
    from ballista_mvp_spark.engine import _rewrite_distinct_on

    q = "SELECT DISTINCT ON (k) k, v FROM t UNION ALL SELECT k, v FROM u"
    assert _rewrite_distinct_on(q) == q


def test_engine_sql_args_path_keeps_dialect_rewrites(spark):
    """ADVICE r5: Engine.sql(query, args=...) must apply the same
    QUALIFY / DISTINCT ON rewrites as the unparameterized path."""
    from ballista_mvp_spark.engine import Engine

    spark.createDataFrame(
        [(1, 5), (1, 9), (2, 3), (2, 7)], ["k", "v"]
    ).createOrReplaceTempView("args_rw_t")
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn "
        "FROM args_rw_t WHERE v > :lo QUALIFY rn = 1 ORDER BY k",
        args={"lo": 0},
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 9), (2, 7)]
    rows2 = eng.sql(
        "SELECT DISTINCT ON (k) k, v FROM args_rw_t WHERE v > :lo "
        "ORDER BY k, v DESC",
        args={"lo": 0},
    ).collect()
    assert [(r.k, r.v) for r in rows2] == [(1, 9), (2, 7)]


def test_rewrite_qualify_inside_cte_body(spark):
    """QUALIFY / DISTINCT ON inside a CTE body (depth 1) must be
    rewritten too — the depth-0 scans alone would pass the statement
    through and Spark's parser would reject it, while DuckDB runs it
    natively (cross-engine contract)."""
    import duckdb

    from ballista_mvp_spark.engine import Engine

    spark.createDataFrame(
        [(1, 5), (1, 9), (2, 3), (2, 7)], ["k", "v"]
    ).createOrReplaceTempView("cte_body_t")
    eng = Engine(spark)
    q = (
        "WITH best AS ("
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn "
        "FROM cte_body_t QUALIFY rn = 1"
        ") SELECT k, v FROM best ORDER BY k"
    )
    rows = eng.sql(q).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 9), (2, 7)]
    # DuckDB runs the ORIGINAL text — byte-identical cross-engine SQL
    con = duckdb.connect()
    con.execute("CREATE VIEW cte_body_t AS SELECT * FROM (VALUES "
                "(1, 5), (1, 9), (2, 3), (2, 7)) t(k, v)")
    assert con.execute(q).fetchall() == [(1, 9), (2, 7)]

    q2 = (
        "WITH best AS ("
        "SELECT DISTINCT ON (k) k, v FROM cte_body_t ORDER BY k, v DESC"
        ") SELECT k, v FROM best ORDER BY k"
    )
    assert [(r.k, r.v) for r in eng.sql(q2).collect()] == [(1, 9), (2, 7)]
    assert con.execute(q2).fetchall() == [(1, 9), (2, 7)]

    # nested WITH inside a CTE body
    q3 = (
        "WITH outer_c AS (WITH inner_c AS ("
        "SELECT k, v, rank() OVER (ORDER BY v DESC) AS rk FROM cte_body_t "
        "QUALIFY rk <= 2) SELECT k, v FROM inner_c) "
        "SELECT k, v FROM outer_c ORDER BY v DESC"
    )
    assert [(r.k, r.v) for r in eng.sql(q3).collect()] == [(1, 9), (2, 7)]
    assert con.execute(q3).fetchall() == [(1, 9), (2, 7)]


def test_rewrite_qualify_in_later_set_branch(spark):
    """QUALIFY belonging to a non-first set-operation branch must be
    rewritten within THAT branch (DuckDB's parse), not grafted onto the
    first branch."""
    from ballista_mvp_spark.engine import Engine, _rewrite_qualify

    q = (
        "SELECT 10 AS a UNION ALL "
        "SELECT k FROM (SELECT 1 AS k UNION ALL SELECT 2) t "
        "QUALIFY row_number() OVER (ORDER BY k) = 1"
    )
    out = _rewrite_qualify(q)
    assert out.startswith("SELECT 10 AS a UNION ALL "), out  # branch 1 verbatim
    got = sorted(r[0] for r in Engine(spark).sql(q).collect())
    assert got == [1, 10]
    # select-list EXCEPT before QUALIFY is NOT a set operator
    spark.createDataFrame([(1, 5), (1, 9)], ["k", "v"]).createOrReplaceTempView(
        "sl_except_t"
    )
    q2 = (
        "SELECT * EXCEPT (v) FROM (SELECT k, v, "
        "row_number() OVER (ORDER BY v DESC) AS rn FROM sl_except_t) "
        "QUALIFY rn = 1"
    )
    assert [(r.k, r.rn) for r in Engine(spark).sql(q2).collect()] == [(1, 1)]


def test_engine_sql_positional_args_reject_rewrites(spark):
    """Positional (?) parameters bind by order; the QUALIFY rewrite moves
    the predicate ahead of the body, so combining them must raise rather
    than silently misbind. Rewrite-free positional queries still work."""
    import pytest

    from ballista_mvp_spark.engine import Engine

    spark.createDataFrame([(1, 5), (2, 9)], ["k", "v"]).createOrReplaceTempView(
        "pos_args_t"
    )
    eng = Engine(spark)
    assert eng.sql(
        "SELECT k FROM pos_args_t WHERE v > ?", args=[6]
    ).collect()[0].k == 2
    with pytest.raises(ValueError, match="positional"):
        eng.sql(
            "SELECT k, row_number() OVER (ORDER BY v) AS rn "
            "FROM pos_args_t WHERE v > ? QUALIFY rn <= ?",
            args=[0, 1],
        )


def test_explain_and_view_share_the_sql_dialect(spark):
    """explain / estimate / create_view parse the same language as
    Engine.sql — a QUALIFY query must work through every entry point,
    and none of them may execute versioned DML."""
    from ballista_mvp_spark.engine import Engine

    spark.createDataFrame([(1, 5), (1, 9)], ["k", "v"]).createOrReplaceTempView(
        "dialect_t"
    )
    eng = Engine(spark)
    q = (
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn "
        "FROM dialect_t QUALIFY rn = 1"
    )
    assert "rn" in eng.explain(q)
    assert eng.estimate(q)["size_in_bytes"] > 0
    eng.create_view("dialect_v", q)
    assert spark.table("dialect_v").count() == 1


def test_analyze_table_rejects_non_identifier_names(spark):
    import pytest

    from ballista_mvp_spark.engine import Engine

    eng = Engine(spark)
    with pytest.raises(ValueError, match="invalid identifier"):
        eng.analyze_table("t PARTITION (dt='2024') --")
    with pytest.raises(ValueError, match="invalid identifier"):
        eng.create_database("x` WITH DBPROPERTIES(a=1) --")


def test_run_job_with_metrics_reports_per_run_deltas(spark):
    """SQLMetrics accumulate on the cached executed plan: a second run
    of the SAME DataFrame must report its own scan work, not twice the
    first run's."""
    from ballista_mvp_spark.engine import Engine

    eng = Engine(spark)
    eng.register_testdata(SF_SMALL)
    df = spark.table("nation").select("n_nationkey")
    _, _, m1 = eng.run_job_with_metrics(df)
    _, _, m2 = eng.run_job_with_metrics(df)
    assert m1.scan_rows == 25 and m2.scan_rows == 25  # not 50


def test_dialect_rewrites_cross_engine_fuzz(spark):
    """Combinatorial cross-engine sweep of the QUALIFY / DISTINCT ON
    dialect: every template combination (leading WITH or not, dialect
    syntax in the main query or a CTE body, set operation before/after,
    trailing ORDER BY/LIMIT or not) runs the SAME text through
    Engine.sql (rewritten for Spark) and DuckDB (native) and must
    value-match — the single-SQL-string cross-engine contract the
    rewrites exist to uphold."""
    import duckdb

    from ballista_mvp_spark.engine import Engine

    spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (2, 3, "c"), (2, 7, "d"), (3, 7, "e")],
        ["k", "v", "tag"],
    ).createOrReplaceTempView("fz")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW fz AS SELECT * FROM (VALUES (1,5,'a'),(1,9,'b'),"
        "(2,3,'c'),(2,7,'d'),(3,7,'e')) t(k, v, tag)"
    )
    eng = Engine(spark)

    core_q = (
        "SELECT k, v, tag, row_number() OVER "
        "(PARTITION BY k ORDER BY v DESC, tag) AS rn FROM fz QUALIFY rn = 1"
    )
    core_d = "SELECT DISTINCT ON (k) k, v, tag FROM fz ORDER BY k, v DESC, tag"
    stmts = []
    for core in (core_q, core_d):
        stmts.append(core)
        stmts.append(f"{core} LIMIT 2" if "ORDER BY k" in core else f"{core} ORDER BY k LIMIT 2")
        # leading CTE, dialect in the MAIN query
        stmts.append(f"WITH base AS (SELECT k, v, tag FROM fz) {core.replace('FROM fz', 'FROM base')}")
        # dialect inside the CTE BODY
        stmts.append(
            f"WITH picked AS ({core}) SELECT k, v FROM picked ORDER BY k"
        )
    # set operation AFTER a QUALIFY
    stmts.append(f"{core_q} UNION ALL SELECT 99, 99, 'z', 99")
    # set operation BEFORE the QUALIFY (dialect in the second branch)
    stmts.append(
        "SELECT 0 AS k, 0 AS v, 'x' AS tag, 0 AS rn UNION ALL " + core_q
    )
    mismatches = []
    for q in stmts:
        got = sorted(tuple(r) for r in eng.sql(q).collect())
        want = sorted(tuple(r) for r in con.execute(q).fetchall())
        if got != want:
            mismatches.append((q, got, want))
    assert not mismatches, mismatches[0]


# An aggregate whose bound literals are inlined into the generated code, so
# every distinct (w, lo) compiles its own classes. One shuffle: a join of two
# small scans would let AQE pick either build side, and each side is new code.
_FILTER_AGG = (
    "SELECT c_nationkey, count(*) AS n, sum(c_acctbal * :w) AS s "
    "FROM customer WHERE c_acctbal > :lo GROUP BY c_nationkey"
)


def test_repeated_prepared_statement_skips_codegen(spark):
    """A long-lived session re-executes a prepared statement without
    recompiling, even after more distinct statements than Spark's default
    generated-class cache (100 entries) holds have run since."""
    eng = Engine(spark=spark, seed=17)
    eng.register_testdata(SF_SMALL)
    ps = eng.prepare(_FILTER_AGG)

    def run(args):
        _, rows, qm = eng.run_job_with_metrics(eng.execute_prepared(ps.handle, args=args))
        return sorted(rows), qm.codegen_classes

    first, _ = run({"w": 1.0117, "lo": -1})
    filler = sum(run({"w": 2.0 + i / 1024, "lo": i})[1] for i in range(64))
    assert filler > 100, f"filler compiled only {filler} classes"
    again, compiled = run({"w": 1.0117, "lo": -1})
    assert compiled == 0
    assert again == first


def test_run_job_with_metrics_reports_codegen(spark):
    """The first run of a fresh statement compiles its generated classes;
    an identical rerun is served from the class cache."""
    eng = Engine(spark=spark, seed=18)
    eng.register_testdata(SF_SMALL)
    q = "SELECT n_regionkey, sum(n_nationkey * 7.0313) AS s FROM nation GROUP BY n_regionkey"
    _, rows1, m1 = eng.run_job_with_metrics(eng.sql(q))
    _, rows2, m2 = eng.run_job_with_metrics(eng.sql(q))
    assert m1.codegen_classes > 0 and m1.codegen_ms > 0
    assert m2.codegen_classes == 0 and m2.codegen_ms == 0
    assert sorted(rows1) == sorted(rows2)
    assert m1.as_dict()["codegen_classes"] == m1.codegen_classes
