"""Transaction-log SQL surface (engine.py _sql_versioned /
_rewrite_time_travel): DESCRIBE HISTORY, DELETE FROM, MERGE INTO,
RESTORE, VACUUM, and VERSION AS OF time travel over tables registered
via Engine.register_versioned — the Delta Lake SQL surface reduced to
its core, dispatched ahead of Catalyst."""

from __future__ import annotations

import pytest

from ballista_mvp_spark.engine import Engine
from ballista_mvp_spark.sources import versioned as V


@pytest.fixture()
def eng(spark):
    return Engine(spark=spark, seed=7)


def _tbl(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(
        spark.createDataFrame(
            [(i, "a") for i in range(10)], "id int, tag string"
        ).coalesce(1),
        t,
        stats_cols=["id"],
    )
    V.write_versioned(
        spark.createDataFrame(
            [(i, "b") for i in range(100, 110)], "id int, tag string"
        ).coalesce(1),
        t,
        mode="append",
        stats_cols=["id"],
    )
    return t


def test_describe_history_and_time_travel(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    hist = eng.sql("DESCRIBE HISTORY docs").collect()
    assert [(h.version, h.op) for h in hist] == [(1, "append"), (2, "append")]
    # VERSION AS OF inside an ordinary SELECT (mixed-case keywords)
    n1 = eng.sql("SELECT count(*) AS n FROM docs version as of 1").first().n
    n2 = eng.sql("SELECT count(*) AS n FROM docs").first().n
    assert (n1, n2) == (10, 20)
    # two pins of the SAME table in one query
    joined = eng.sql(
        "SELECT count(*) AS n FROM docs VERSION AS OF 2 a "
        "JOIN docs VERSION AS OF 1 b ON a.id = b.id"
    ).first().n
    assert joined == 10


def test_delete_from_sql(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    out = eng.sql("DELETE FROM docs WHERE id % 2 = 0 AND id < 50").first()
    assert out.version == 3 and out.files_rewritten == 1
    # the registered view was re-pinned to the new head
    assert eng.sql("SELECT count(*) AS n FROM docs").first().n == 15
    # pre-delete snapshot still queryable
    assert eng.sql("SELECT count(*) AS n FROM docs VERSION AS OF 2").first().n == 20


def test_merge_into_sql(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    out = eng.sql(
        "MERGE INTO docs USING "
        "(SELECT id * 3 AS id, 'm' AS tag FROM range(2)) ON id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert out.version == 3
    rows = {r.id: r.tag for r in eng.sql("SELECT * FROM docs").collect()}
    assert rows[0] == "m" and rows[3] == "m" and rows[1] == "a"
    # USING a named view, no WHEN suffix (upsert semantics implied)
    spark.createDataFrame([(105, "z")], "id int, tag string").createOrReplaceTempView(
        "updates"
    )
    eng.sql("MERGE INTO docs USING updates ON id")
    rows = {r.id: r.tag for r in eng.sql("SELECT * FROM docs").collect()}
    assert rows[105] == "z" and len(rows) == 20


def test_restore_and_vacuum_sql(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    eng.sql("DELETE FROM docs WHERE id >= 100")
    assert eng.sql("SELECT count(*) AS n FROM docs").first().n == 10
    out = eng.sql("RESTORE TABLE docs TO VERSION AS OF 2").first()
    assert out.version == 4 and out.restored_from == 2
    assert eng.sql("SELECT count(*) AS n FROM docs").first().n == 20
    removed = eng.sql("VACUUM docs RETAIN 1 VERSIONS").first().files_removed
    assert removed >= 0
    assert eng.sql("SELECT count(*) AS n FROM docs").first().n == 20
    assert [h.version for h in eng.sql("DESCRIBE HISTORY docs").collect()] == [4]


def test_unregistered_names_fall_through(eng, spark, tmp_path):
    """Statements naming unregistered tables reach Catalyst untouched
    (and fail there naturally); ordinary SQL is unaffected."""
    assert eng.sql("SELECT 1 AS x").first().x == 1
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        eng.sql("DELETE FROM nosuch WHERE x = 1")
    # a registered versioned table doesn't shadow ordinary tables
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    assert eng.sql("SELECT max(id) AS m FROM range(5)").first().m == 4


def test_update_sql(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    out = eng.sql(
        "UPDATE docs SET tag = concat(tag, '!') WHERE id IN (1, 105)"
    ).first()
    assert out.version == 3 and out.files_rewritten == 2
    rows = {r.id: r.tag for r in eng.sql("SELECT * FROM docs").collect()}
    assert rows[1] == "a!" and rows[105] == "b!" and rows[2] == "a"
    # multi-assignment with a function call containing commas
    eng.sql("UPDATE docs SET tag = concat(tag, '-', 'x'), id = id + 1000 WHERE id = 2")
    rows = {r.id: r.tag for r in eng.sql("SELECT * FROM docs").collect()}
    assert rows[1002] == "a-x" and 2 not in rows


def test_split_assignments_quote_aware():
    """SET-list splitting must ignore commas / parens / '=' inside
    single-quoted SQL literals, with '' escaping (ADVICE r4)."""
    from ballista_mvp_spark.engine import _split_assignments

    assert _split_assignments("s = 'a,b'") == {"s": "'a,b'"}
    assert _split_assignments("s = '(', t = ')'") == {"s": "'('", "t": "')'"}
    assert _split_assignments("s = 'it''s, ok', n = n + 1") == {
        "s": "'it''s, ok'", "n": "n + 1"}
    assert _split_assignments("s = 'x=y'") == {"s": "'x=y'"}
    assert _split_assignments(
        "a = concat('p,q', b), c = CASE WHEN d = ',' THEN '[' ELSE ']' END"
    ) == {"a": "concat('p,q', b)",
          "c": "CASE WHEN d = ',' THEN '[' ELSE ']' END"}
    with pytest.raises(ValueError, match="malformed"):
        _split_assignments("nonsense")
    with pytest.raises(ValueError, match="unterminated"):
        _split_assignments("s = 'oops")


def test_update_sql_literal_with_comma(eng, spark, tmp_path):
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    eng.sql("UPDATE docs SET tag = 'x,y', id = id + 1000 WHERE id = 1")
    rows = {r.id: r.tag for r in eng.sql("SELECT * FROM docs").collect()}
    assert rows[1001] == "x,y" and 1 not in rows and rows[2] == "a"


def test_optimize_sql_compacts_as_commit(eng, spark, tmp_path):
    """OPTIMIZE <t> [TARGET n MB] = compaction-as-commit through SQL:
    the live set shrinks to few files, rows are identical, and time
    travel to the pre-compaction version still works."""
    t = str(tmp_path / "tbl")
    for i in range(6):  # six tiny single-file commits
        V.write_versioned(
            spark.createDataFrame([(i, "a")], "id int, tag string").coalesce(1),
            t, mode="append",
        )
    eng.register_versioned("docs", t)
    before = eng.sql("DESCRIBE HISTORY docs").collect()[-1]
    assert before.n_files == 6
    out = eng.sql("OPTIMIZE docs TARGET 128 MB").first()
    assert out.version == 7 and out.n_files < 6
    assert eng.sql("SELECT count(*) AS n FROM docs").first().n == 6
    assert {r.id for r in eng.sql("SELECT * FROM docs").collect()} == set(range(6))
    # pre-compaction snapshot intact
    assert eng.sql("SELECT count(*) AS n FROM docs VERSION AS OF 6").first().n == 6


def test_vacuum_retain_hours_sql(eng, spark, tmp_path):
    """VACUUM <t> RETAIN 0 HOURS waives the in-flight-commit retention
    guard (Delta syntax); without it a fresh never-committed dir
    survives."""
    import os

    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    orphan = os.path.join(t, "data", "commit-99-cafebabe")
    spark.range(0, 3).write.parquet(orphan)
    assert eng.sql("VACUUM docs").first().files_removed == 0
    assert os.path.exists(orphan)
    removed = eng.sql("VACUUM docs RETAIN 1 VERSIONS RETAIN 0 HOURS").first()
    assert removed.files_removed >= 1 and not os.path.exists(orphan)


def test_update_with_where_inside_set_literal(spark, tmp_path):
    """The SET/WHERE boundary is found quote-aware: the word 'where'
    inside a SET string literal must not split the statement."""
    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(
        spark.createDataFrame([(1, "x"), (2, "y")], ["id", "note"]), t
    )
    eng = Engine(spark)
    eng.register_versioned("updlit", t)
    eng.sql("UPDATE updlit SET note = 'a where b' WHERE id = 1")
    got = {r.id: r.note for r in V.read_versioned(spark, t).collect()}
    assert got == {1: "a where b", 2: "y"}


def test_time_travel_not_rewritten_inside_string_literal(spark, tmp_path):
    """A string literal mentioning '<table> VERSION AS OF n' passes
    through untouched (no rewrite, no temp-view side effect)."""
    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], ["id"]), t)
    eng = Engine(spark)
    eng.register_versioned("ttlit", t)
    row = eng.sql("SELECT 'ttlit VERSION AS OF 1' AS note FROM ttlit").first()
    assert row.note == "ttlit VERSION AS OF 1"
    # outside a literal the rewrite still fires
    assert eng.sql("SELECT count(*) AS n FROM ttlit VERSION AS OF 1").first().n == 1


def test_vacuum_retain_hours_preserves_history_within_window(spark, tmp_path):
    """VACUUM t RETAIN n HOURS keeps every version committed within the
    window (Delta semantics) — previously it dropped all but the head
    regardless of age."""
    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], ["id"]), t)  # v1, just now
    V.write_versioned(spark.createDataFrame([(2,)], ["id"]), t)  # v2
    eng = Engine(spark)
    eng.register_versioned("vr", t)
    eng.sql("VACUUM vr RETAIN 24 HOURS")
    assert V._versions(t) == [1, 2]  # both inside the window: kept
    assert V.read_versioned(spark, t, version=1).count() == 1  # time travel alive
    eng.sql("VACUUM vr RETAIN 1 VERSIONS")  # explicit keep_last still works
    assert V._versions(t) == [2]


def test_insert_into_versioned_table(spark, tmp_path):
    """INSERT INTO / INSERT OVERWRITE complete the versioned DML triad:
    positional schema binding with implicit casts, append vs truncating
    overwrite commits, prior versions still time-travelable."""
    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(
        spark.createDataFrame([(1, "a")], "id long, note string"), t
    )
    eng = Engine(spark)
    eng.register_versioned("ins_t", t)
    out = eng.sql("INSERT INTO ins_t VALUES (2, 'b'), (3, 'c')").first()
    assert out.version == 2
    got = {r.id: r.note for r in eng.sql("SELECT * FROM ins_t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # SELECT-sourced insert with an implicit cast (int -> long)
    spark.createDataFrame([(4, "d")], "id int, note string").createOrReplaceTempView(
        "ins_src"
    )
    eng.sql("INSERT INTO ins_t SELECT id, note FROM ins_src")
    assert eng.sql("SELECT count(*) AS n FROM ins_t").first().n == 4
    # OVERWRITE truncates at the head; history stays travelable
    eng.sql("INSERT OVERWRITE ins_t VALUES (9, 'z')")
    assert [r.id for r in eng.sql("SELECT * FROM ins_t").collect()] == [9]
    assert eng.sql("SELECT count(*) AS n FROM ins_t VERSION AS OF 2").first().n == 3
    # column-count mismatch is a loud error
    import pytest

    with pytest.raises(ValueError, match="column count"):
        eng.sql("INSERT INTO ins_t VALUES (1)")
    # unregistered tables fall through to Catalyst untouched
    spark.sql("CREATE TABLE IF NOT EXISTS plain_ins (id long) USING parquet")
    eng.sql("INSERT INTO plain_ins VALUES (7)")
    assert spark.table("plain_ins").count() >= 1
    spark.sql("DROP TABLE plain_ins")


def test_insert_with_column_list(spark, tmp_path):
    """INSERT INTO t (a, b) binds the source positionally to the NAMED
    columns; unlisted columns become NULL (standard SQL). Previously the
    column list was swallowed into the source text and died in an opaque
    Catalyst parse error."""
    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(
        spark.createDataFrame(
            [(1, "a", 1.5)], "id long, note string, score double"
        ),
        t,
    )
    eng = Engine(spark)
    eng.register_versioned("cl_t", t)
    # reordered column list + unlisted column -> NULL
    eng.sql("INSERT INTO cl_t (note, id) VALUES ('b', 2)")
    rows = {r.id: (r.note, r.score) for r in eng.sql("SELECT * FROM cl_t").collect()}
    assert rows == {1: ("a", 1.5), 2: ("b", None)}
    # SELECT-sourced with a column list
    spark.createDataFrame([(3.5, 3)], "score double, id int").createOrReplaceTempView(
        "cl_src"
    )
    eng.sql("INSERT INTO cl_t (score, id) SELECT score, id FROM cl_src")
    got = eng.sql("SELECT note, score FROM cl_t WHERE id = 3").first()
    assert got.note is None and got.score == 3.5
    # the most common SQL spacing — no space before the column list —
    # must dispatch too (the \s+ regex silently fell through to Catalyst)
    eng.sql("INSERT INTO cl_t(note, id) VALUES ('ns', 4)")
    assert eng.sql("SELECT note FROM cl_t WHERE id = 4").first().note == "ns"
    # quoted/qualified identifiers in list position: loud, not an opaque
    # Catalyst parse error on the swallowed list
    with pytest.raises(ValueError, match="bare identifiers"):
        eng.sql("INSERT INTO cl_t (`my col`, id) VALUES (1, 2)")
    # loud errors: unknown name, arity mismatch, duplicate
    with pytest.raises(ValueError, match="not in table"):
        eng.sql("INSERT INTO cl_t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="names 2"):
        eng.sql("INSERT INTO cl_t (id, note) VALUES (1)")
    with pytest.raises(ValueError, match="duplicate"):
        eng.sql("INSERT INTO cl_t (id, id) VALUES (1, 2)")
    # a parenthesized QUERY source is not mistaken for a column list
    eng.sql("INSERT INTO cl_t (SELECT 9L, 'q', 0.5)")
    assert eng.sql("SELECT note FROM cl_t WHERE id = 9").first().note == "q"


def test_vacuum_retain_hours_survives_mtime_skew(spark, tmp_path):
    """RETAIN n HOURS keeps every version >= the OLDEST young version
    NUMBER — an old manifest with a fresh mtime (backup restore, clock
    skew) must not displace a genuinely-young version out of the kept
    set."""
    import os
    import time

    from ballista_mvp_spark.engine import Engine
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    for i in range(4):  # v1..v4
        V.write_versioned(
            spark.createDataFrame([(i,)], ["id"]), t,
            mode="overwrite" if i == 0 else "append",
        )
    # age v2..v4 out of the window, then give v1 (the OLDEST) a fresh
    # mtime as a restored-from-backup would
    old = time.time() - 7200
    for v in (2, 3, 4):
        os.utime(V._manifest_path(t, v), (old, old))
    eng = Engine(spark)
    eng.register_versioned("sk_t", t)
    eng.sql("VACUUM sk_t RETAIN 1 HOURS")
    # keeping by version number: v1 young => everything >= v1 kept
    assert V._versions(t) == [1, 2, 3, 4]


def test_empty_version_schema_fallback_merges_evolved_schema(spark, tmp_path):
    """A zero-file version on a schema-EVOLVED table reads back the
    merged (union) schema of the nearest schema-carrying version —
    previously only that version's FIRST file was consulted, dropping
    later-added columns (the first file predates the evolution)."""
    import json
    import os

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], "id long"), t)
    # schema evolution: append a file with an extra column — v2's file
    # list is [v1-file (id), v2-file (id, extra)]
    V.write_versioned(
        spark.createDataFrame([(2, "x")], "id long, extra string"),
        t,
        mode="append",
    )
    # a zero-file head version (empty first stream batch shape)
    m3 = {"version": 3, "op": "overwrite", "files": [],
          "n_files": 0, "n_added": 0}
    with open(V._manifest_path(t, 3), "w") as fh:
        json.dump(m3, fh)
    got = V.read_versioned(spark, t, merge_schema=True)
    assert got.count() == 0
    assert set(got.columns) == {"id", "extra"}


def test_ledger_add_concurrent_writers_lose_no_ids(tmp_path):
    """_ledger_add under concurrent writers: every id survives — the
    unserialized read-modify-write lost the replace-loser's ids,
    re-opening the exactly-once replay window."""
    import json
    import os
    import threading

    from ballista_mvp_spark.sources import versioned as V

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, V._MANIFEST_DIR))
    n_threads, per = 8, 10
    errs = []

    def work(k):
        try:
            for i in range(per):
                V._ledger_add(path, [f"w{k}-b{i}"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=work, args=(k,)) for k in range(n_threads)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs
    with open(os.path.join(path, V._MANIFEST_DIR, V._LEDGER)) as fh:
        ids = set(json.load(fh))
    want = {f"w{k}-b{i}" for k in range(n_threads) for i in range(per)}
    assert ids == want


def test_ledger_add_concurrent_processes_lose_no_ids(tmp_path):
    """Cross-PROCESS _ledger_add race: flock is an OS-level lock, so the
    guarantee must hold for separate interpreter processes (two
    concurrent vacuums in different jobs), not just threads sharing the
    GIL. Every id from every process must survive."""
    import json
    import os
    import subprocess
    import sys

    from ballista_mvp_spark.sources import versioned as V

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, V._MANIFEST_DIR))
    n_procs, per = 6, 8
    script = (
        "import sys; sys.path.insert(0, {root!r});"
        "from ballista_mvp_spark.sources import versioned as V;"
        "k = int(sys.argv[1]);"
        "[V._ledger_add({path!r}, ['p%d-b%d' % (k, i)]) for i in range({per})]"
    ).format(
        root=os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(V.__file__)))
        ),
        path=path,
        per=per,
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", script, str(k)])
        for k in range(n_procs)
    ]
    for p in procs:
        assert p.wait(timeout=60) == 0
    with open(os.path.join(path, V._MANIFEST_DIR, V._LEDGER)) as fh:
        ids = set(json.load(fh))
    want = {f"p{k}-b{i}" for k in range(n_procs) for i in range(per)}
    assert ids == want


def test_vacuum_reclaims_stale_tmp_manifests(spark, tmp_path):
    """A writer crashed between writing its .tmp manifest and the
    hard-link leaves the tmp behind; vacuum reclaims it once it is past
    the retention window, and never touches a FRESH one (which may be a
    commit linking right now)."""
    import json
    import os
    import time

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], ["id"]), t)
    mdir = os.path.join(t, V._MANIFEST_DIR)
    stale = os.path.join(mdir, ".tmp-deadbeef-v9.json")
    fresh = os.path.join(mdir, ".tmp-cafebabe-v9.json")
    for p in (stale, fresh):
        with open(p, "w") as fh:
            json.dump({"version": 9, "files": []}, fh)
    old = time.time() - 7 * 86400
    os.utime(stale, (old, old))
    V.vacuum(t, keep_last=1)  # default 24h retention
    assert not os.path.exists(stale)   # crash leftover reclaimed
    assert os.path.exists(fresh)       # possible in-flight commit kept
    # reads were never affected either way
    assert V.read_versioned(spark, t).count() == 1


def test_dml_results_are_local_relations(eng, spark, tmp_path):
    """Every transaction-log statement returns its few driver-built rows
    as a LocalRelation, so collecting the result ships nothing through
    Python workers."""
    t = _tbl(spark, tmp_path)
    eng.register_versioned("docs", t)
    results = [
        eng.sql(q)
        for q in (
            "INSERT INTO docs VALUES (200, 'c')",
            "UPDATE docs SET tag = 'u' WHERE id = 1",
            "DELETE FROM docs WHERE id = 2",
            "MERGE INTO docs USING (SELECT 3 AS id, 'm' AS tag) ON id",
            "OPTIMIZE docs",
            "RESTORE TABLE docs TO VERSION AS OF 1",
            "DESCRIBE HISTORY docs",
            "VACUUM docs RETAIN 7 VERSIONS",
        )
    ]
    for df in results:
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [r.version for r in results[6].collect()] == list(range(1, 9))
