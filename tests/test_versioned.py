"""Versioned parquet tables (sources/versioned.py): snapshot isolation,
time travel, crash-safe commits, vacuum."""

from __future__ import annotations

import glob
import json
import os

import pytest

from ballista_mvp_spark.sources import versioned as V

from .conftest import SF_SMALL


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert V.write_versioned(spark.range(0, 5), t, mode="append") == 1
    assert V.write_versioned(spark.range(5, 8), t, mode="append") == 2
    assert V.write_versioned(spark.range(100, 103), t, mode="overwrite") == 3
    # latest = the overwrite
    assert _ids(V.read_versioned(spark, t)) == [100, 101, 102]
    # time travel reproduces every historical snapshot exactly
    assert _ids(V.read_versioned(spark, t, version=1)) == [0, 1, 2, 3, 4]
    assert _ids(V.read_versioned(spark, t, version=2)) == list(range(8))
    hist = V.history(t)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["op"] for h in hist] == ["append", "append", "overwrite"]
    assert hist[1]["n_files"] == hist[0]["n_files"] + hist[1]["n_added"]


def test_crashed_commit_is_invisible_and_vacuumable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 4), t)
    # simulate a writer that crashed after writing data, before the
    # manifest rename: data files exist, no manifest names them
    orphan = os.path.join(t, "data", "commit-99-deadbeef")
    spark.range(1000, 1010).write.parquet(orphan)
    assert _ids(V.read_versioned(spark, t)) == [0, 1, 2, 3]  # unaffected
    # default retention: the never-committed dir could be an IN-FLIGHT
    # writer (data linked, manifest pending) — vacuum must not touch it
    assert V.vacuum(t, keep_last=1) == 0 and os.path.exists(orphan)
    # past the retention window (or with retention waived) it's garbage
    removed = V.vacuum(t, keep_last=1, retain_seconds=0)
    assert removed >= 1 and not os.path.exists(orphan)
    assert _ids(V.read_versioned(spark, t)) == [0, 1, 2, 3]


def test_vacuum_keeps_pinned_versions_readable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 4), t)
    V.write_versioned(spark.range(4, 6), t, mode="append")
    V.write_versioned(spark.range(50, 53), t, mode="overwrite")
    removed = V.vacuum(t, keep_last=2)
    # v1's files survive (v2 references them); v1's manifest is gone
    assert [h["version"] for h in V.history(t)] == [2, 3]
    assert _ids(V.read_versioned(spark, t, version=2)) == list(range(6))
    assert _ids(V.read_versioned(spark, t, version=3)) == [50, 51, 52]
    with pytest.raises(FileNotFoundError):
        V.read_versioned(spark, t, version=1)
    # dropping down to keep_last=1 deletes v2's exclusive data files
    removed = V.vacuum(t, keep_last=1)
    assert removed >= 1
    assert _ids(V.read_versioned(spark, t)) == [50, 51, 52]
    live = V._read_manifest(t, 3)["files"]
    on_disk = [
        os.path.relpath(f, t)
        for f in glob.glob(os.path.join(t, "data", "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    assert sorted(on_disk) == sorted(live)  # nothing dead remains


def test_concurrent_commit_single_winner(spark, tmp_path, monkeypatch):
    """Two writers race to the same version: the one whose manifest link
    lands second must raise, not silently clobber the winner. Emulated
    by making the loser's version pick stale — the winner's v2 manifest
    appears between the loser's _versions() read and its commit link."""
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 3), t)
    winner = V._manifest_path(t, 2)
    with open(winner, "w") as fh:
        json.dump({"version": 2, "op": "append", "files": [], "n_files": 0,
                   "n_added": 0}, fh)
    real_versions = V._versions
    monkeypatch.setattr(V, "_versions", lambda p: [1])  # stale read: v2 unseen
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.write_versioned(spark.range(9, 12), t, mode="append")
    monkeypatch.setattr(V, "_versions", real_versions)
    # the winner's manifest survived the losing attempt byte-for-byte
    with open(winner) as fh:
        assert json.load(fh)["n_files"] == 0
    # and the loser's orphan data files are invisible + vacuumable
    # (retention waived: the loser is known-dead, not in-flight)
    assert V.vacuum(t, keep_last=2, retain_seconds=0) >= 1


def test_read_errors(spark, tmp_path):
    t = str(tmp_path / "none")
    with pytest.raises(FileNotFoundError):
        V.read_versioned(spark, t)
    V.write_versioned(spark.range(0, 2), t)
    with pytest.raises(FileNotFoundError):
        V.read_versioned(spark, t, version=7)
    with pytest.raises(ValueError):
        V.write_versioned(spark.range(0, 2), t, mode="replace")
    with pytest.raises(ValueError):
        V.vacuum(t, keep_last=0)


def test_streaming_foreach_batch_sink_exactly_once(spark, tmp_path):
    """Structured Streaming → versioned table: each micro-batch commits
    one batch-id-stamped version; checkpoint restart with no new data
    commits nothing; a replayed (at-least-once) batch id is dropped by
    the idempotent sink; new data appends exactly its own rows."""
    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(str(src / "a"))

    def run():
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(V.foreach_batch_sink(tbl))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert _ids(V.read_versioned(spark, tbl)) == list(range(10))
    n_versions = len(V.history(tbl))

    # restart, nothing new: no commits
    run()
    assert len(V.history(tbl)) == n_versions

    # at-least-once replay of a committed batch id: dropped
    sink = V.foreach_batch_sink(tbl)
    committed = [
        V._read_manifest(tbl, h["version"]).get("batch_id")
        for h in V.history(tbl)
    ]
    sink(spark.range(500, 510).toDF("id"), committed[0])
    assert _ids(V.read_versioned(spark, tbl)) == list(range(10))

    # new data: exactly its rows appended
    spark.range(10, 14).toDF("id").coalesce(1).write.parquet(str(src / "b"))
    run()
    assert _ids(V.read_versioned(spark, tbl)) == list(range(14))


def test_engine_register_versioned_pins_snapshot(spark, tmp_path):
    """SQL over a pinned version: later commits must not leak into the
    registered view (snapshot isolation at the catalog surface)."""
    from ballista_mvp_spark.engine import Engine

    t = str(tmp_path / "tbl")
    eng = Engine(spark)
    V.write_versioned(spark.range(0, 5), t)
    pinned = eng.register_versioned("corpus_v", t)
    assert pinned == 1
    V.write_versioned(spark.range(100, 103), t, mode="overwrite")
    # the view still reads v1
    assert eng.sql("SELECT count(*) AS n FROM corpus_v").collect()[0].n == 5
    # explicit re-pin to latest sees the overwrite
    assert eng.register_versioned("corpus_v", t) == 2
    assert eng.sql("SELECT min(id) AS m FROM corpus_v").collect()[0].m == 100


def test_incremental_curation_loop(spark, tmp_path):
    """The flagship composition: a long-lived versioned corpus ingesting
    batches through quality-gate -> incremental-dedup -> commit. Each
    loop iteration reads the CURRENT corpus version, admits only new
    documents that pass the gate, and commits one version — so every
    historical training snapshot stays reproducible while the corpus
    grows without ever re-deduping corpus-vs-corpus."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.operators import dedup as D
    from ballista_mvp_spark.operators import text as TX

    t = str(tmp_path / "corpus")
    good = "the quick brown fox and the lazy dog have to be of use here " * 5

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _doc_ids(df):
        return sorted(r.doc_id for r in df.collect())

    # v1: seed corpus (both docs pass the gate)
    seed = batch([(1, good + "alpha"), (2, good + "beta")])
    V.write_versioned(seed, t)

    def ingest(b):
        corpus = V.read_versioned(spark, t)
        gated = b.join(
            TX.gopher_report(b, "doc_id", "text").where("keep").select("doc_id"),
            "doc_id",
        )
        verdicts = D.incremental_dedup(
            corpus, gated, TX.fingerprint(F.col("text")), "doc_id"
        )
        new = gated.join(
            verdicts.where("status = 'new'").select("doc_id"), "doc_id"
        )
        return V.write_versioned(new, t, mode="append")

    # batch 2: one corpus-dup, one batch-dup pair, one gate reject, one new
    v2 = ingest(batch([
        (10, good + "alpha"),          # dup of corpus doc 1
        (11, good + "gamma"),          # new (survives)
        (12, good + "gamma"),          # dup within batch (11 wins)
        (13, "zz " * 60),              # fails the stopword gate
    ]))
    assert v2 == 2
    assert _doc_ids(V.read_versioned(spark, t)) == [1, 2, 11]
    # batch 3: re-submitting an already-ingested doc is a no-op row-wise
    ingest(batch([(20, good + "gamma"), (21, good + "delta")]))
    assert _doc_ids(V.read_versioned(spark, t)) == [1, 2, 11, 21]
    # every historical snapshot is intact
    assert _doc_ids(V.read_versioned(spark, t, version=1)) == [1, 2]
    assert _doc_ids(V.read_versioned(spark, t, version=2)) == [1, 2, 11]


def test_manifest_data_skipping(spark, tmp_path):
    """stats_cols records per-file min/max at commit; prune=(col, lo, hi)
    must cut the file set from the manifest alone, keep files lacking
    stats (never changes results), and return an empty typed frame when
    everything is skipped."""
    t = str(tmp_path / "tbl")
    # three commits with disjoint id ranges -> one file each, with stats
    for lo in (0, 100, 200):
        V.write_versioned(
            spark.range(lo, lo + 50).toDF("id").coalesce(1),
            t, mode="append", stats_cols=["id"],
        )
    # and one commit WITHOUT stats (must survive any prune)
    V.write_versioned(
        spark.range(1000, 1010).toDF("id").coalesce(1), t, mode="append"
    )
    full = V.read_versioned(spark, t)
    assert len(full.inputFiles()) == 4
    pruned = V.read_versioned(spark, t, prune=("id", 120, 130))
    # the matching stats file + the stats-less file; the other two skipped
    assert len(pruned.inputFiles()) == 2
    assert sorted(r.id for r in pruned.where("id BETWEEN 120 AND 130").collect()) \
        == list(range(120, 131))
    # correctness invariant: prune + filter == filter
    want = sorted(r.id for r in full.where("id >= 200").collect())
    got = sorted(
        r.id
        for r in V.read_versioned(spark, t, prune=("id", 200, 10**9))
        .where("id >= 200").collect()
    )
    assert got == want
    # prune to nowhere (stats-less file still kept -> 1 file; narrow it)
    nowhere = V.read_versioned(spark, t, prune=("id", -50, -10))
    assert len(nowhere.inputFiles()) == 1  # only the stats-less file
    assert nowhere.where("id < 0").count() == 0


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Additive schema evolution: a later commit appends a column; a
    merge_schema read sees it (NULL for pre-evolution files), a plain
    read keeps working, and time travel returns each version's own
    schema."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 3).toDF("id"), t)
    V.write_versioned(
        spark.range(3, 5).select("id", F.lit("en").alias("lang")),
        t, mode="append",
    )
    merged = V.read_versioned(spark, t, merge_schema=True)
    assert set(merged.columns) == {"id", "lang"}
    got = {r.id: r.lang for r in merged.collect()}
    assert got == {0: None, 1: None, 2: None, 3: "en", 4: "en"}
    # time travel to v1 has no lang column at all
    assert V.read_versioned(spark, t, version=1, merge_schema=True).columns == ["id"]


def test_compact_versioned_preserves_history(spark, tmp_path):
    """Compaction commits an overwrite version with fewer files and the
    same rows; time travel to pre-compaction versions still works; the
    superseded small files are reclaimed only by vacuum."""
    t = str(tmp_path / "tbl")
    for lo in range(0, 40, 10):  # 4 commits x 2 files = 8 small files
        V.write_versioned(
            spark.range(lo, lo + 10).toDF("id").repartition(2), t, mode="append"
        )
    assert V.history(t)[-1]["n_files"] == 8
    v = V.compact_versioned(spark, t, target_file_mb=256, stats_cols=["id"])
    assert v == 5
    m = V._read_manifest(t, v)
    assert m["op"] == "overwrite" and m["n_files"] < 8
    assert _ids(V.read_versioned(spark, t)) == list(range(40))
    # stats recorded for the compacted files
    assert all("id" in st for st in m["stats"].values())
    # pre-compaction snapshot intact until vacuumed
    assert _ids(V.read_versioned(spark, t, version=4)) == list(range(40))
    assert V.vacuum(t, keep_last=1) >= 8
    assert _ids(V.read_versioned(spark, t)) == list(range(40))


def _changes(spark, t, lo, hi=None):
    return V.read_changes(spark, t, lo, hi).collect()


def test_change_feed_appends_are_pure_inserts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 4), t)
    V.write_versioned(spark.range(4, 7), t, mode="append")
    rows = _changes(spark, t, 1)  # changes since v1
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert {r["_commit_version"] for r in rows} == {2}
    assert sorted(r.id for r in rows) == [4, 5, 6]
    # full-history feed from version 0
    rows = _changes(spark, t, 0)
    assert sorted(r.id for r in rows) == list(range(7))


def test_change_feed_overwrite_emits_deletes_and_inserts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 4), t)
    V.write_versioned(spark.range(100, 102), t, mode="overwrite")
    rows = _changes(spark, t, 1)
    ins = sorted(r.id for r in rows if r["_change_type"] == "insert")
    dels = sorted(r.id for r in rows if r["_change_type"] == "delete")
    assert ins == [100, 101] and dels == [0, 1, 2, 3]


def test_change_feed_snapshot_invariant(spark, tmp_path):
    """snapshot(from) + inserts − deletes == snapshot(to), as multisets,
    across appends, an overwrite, and a compaction."""
    from collections import Counter

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 6), t)
    V.write_versioned(spark.range(6, 9), t, mode="append")
    V.write_versioned(spark.range(3, 12), t, mode="overwrite")
    V.write_versioned(spark.range(12, 14), t, mode="append")
    V.compact_versioned(spark, t, target_file_mb=256)
    vs = [h["version"] for h in V.history(t)]
    for lo in vs:
        for hi in [v for v in vs if v >= lo]:
            snap_lo = Counter(r.id for r in V.read_versioned(spark, t, version=lo).collect())
            snap_hi = Counter(r.id for r in V.read_versioned(spark, t, version=hi).collect())
            ch = _changes(spark, t, lo, hi)
            got = Counter(snap_lo)
            got.update(r.id for r in ch if r["_change_type"] == "insert")
            got.subtract(r.id for r in ch if r["_change_type"] == "delete")
            assert +got == snap_hi, (lo, hi)


def test_change_feed_compaction_nets_to_zero(spark, tmp_path):
    from collections import Counter

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 5).repartition(4), t)
    v_before = V.history(t)[-1]["version"]
    V.compact_versioned(spark, t, target_file_mb=256)
    rows = _changes(spark, t, v_before)
    ins = Counter(r.id for r in rows if r["_change_type"] == "insert")
    dels = Counter(r.id for r in rows if r["_change_type"] == "delete")
    assert ins == dels  # content-preserving rewrite nets out


def test_change_feed_incremental_aggregate_maintenance(spark, tmp_path):
    """Maintain a per-key count/sum from the feed alone == recompute
    from the full snapshot — incremental view maintenance end-to-end."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.write_versioned(
        spark.range(0, 40).select("id", (F.col("id") % 4).alias("k")), t
    )
    v0 = V.history(t)[-1]["version"]
    base = (
        V.read_versioned(spark, t)
        .groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    # two more commits: an append and a rewrite that drops id >= 30
    V.write_versioned(
        spark.range(40, 50).select("id", (F.col("id") % 4).alias("k")), t,
        mode="append",
    )
    full = V.read_versioned(spark, t).filter("id < 30")
    V.write_versioned(full, t, mode="overwrite")
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        V.read_changes(spark, t, v0)
        .groupBy("k")
        .agg(F.sum(sign).alias("dn"), F.sum(F.col("id") * sign).alias("ds"))
    )
    maintained = (
        base.join(delta, "k", "full")
        .select(
            "k",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("s"),
        )
        .filter(F.col("n") > 0)
    )
    recomputed = (
        V.read_versioned(spark, t)
        .groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    got = {(r.k, r.n, r.s) for r in maintained.collect()}
    want = {(r.k, r.n, r.s) for r in recomputed.collect()}
    assert got == want


def test_change_feed_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 3), t)
    V.write_versioned(
        spark.range(3, 5).withColumn("tag", F.lit("new")), t, mode="append"
    )
    rows = _changes(spark, t, 0)
    tags = {r.id: r.tag for r in rows}
    assert tags == {0: None, 1: None, 2: None, 3: "new", 4: "new"}


def test_change_feed_errors(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        V.read_changes(spark, t, 0)
    V.write_versioned(spark.range(0, 3), t)
    V.write_versioned(spark.range(100, 102), t, mode="overwrite")
    with pytest.raises(FileNotFoundError, match="version 9"):
        V.read_changes(spark, t, 9)
    with pytest.raises(ValueError, match="to_version"):
        V.read_changes(spark, t, 2, 1)
    # empty range: zero rows, change columns present
    empty = V.read_changes(spark, t, 2, 2)
    assert empty.count() == 0 and "_change_type" in empty.columns
    # vacuum breaks history reads: the feed says so instead of lying
    V.vacuum(t, keep_last=1)
    with pytest.raises(FileNotFoundError, match="version 1"):
        V.read_changes(spark, t, 1)
    # a manually-deleted data file (vacuum never leaves a kept manifest
    # dangling) is reported, not silently dropped from the feed
    m = V._read_manifest(t, 2)
    os.remove(os.path.join(t, m["files"][0]))
    with pytest.raises(FileNotFoundError, match="vacuum"):
        V.read_changes(spark, t, 0, 2)


# ---- versioned_table Spark data source (sources/versioned_stream.py) ----


def test_versioned_source_batch_scan(spark, tmp_path):
    from ballista_mvp_spark.sources import versioned_stream as VS

    VS.register(spark)
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 10), t)
    V.write_versioned(spark.range(10, 15), t, mode="append")
    df = spark.read.format("versioned_table").option("path", t).load()
    assert _ids(df) == list(range(15))
    assert {r["_change_type"] for r in df.collect()} == {"insert"}
    # pinned snapshot via option
    v1 = (
        spark.read.format("versioned_table")
        .option("path", t).option("version", "1").load()
    )
    assert _ids(v1) == list(range(10))


def test_versioned_source_stream_offsets_are_versions(spark, tmp_path):
    """readStream over the commit log: first run drains all commits;
    after MORE commits, a restart from the same checkpoint consumes ONLY
    the new versions (offset = version number)."""
    from ballista_mvp_spark.sources import versioned_stream as VS

    VS.register(spark)
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    V.write_versioned(spark.range(0, 10), t)
    V.write_versioned(spark.range(10, 15), t, mode="append")

    def drain():
        q = (
            spark.readStream.format("versioned_table").option("path", t).load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    assert _ids(spark.read.parquet(out)) == list(range(15))
    # an overwrite commit: the restarted stream sees delete+insert only
    V.write_versioned(spark.range(100, 103), t, mode="overwrite")
    drain()
    rows = spark.read.parquet(out).collect()
    ins = sorted(r.id for r in rows if r["_change_type"] == "insert")
    dels = sorted(r.id for r in rows if r["_change_type"] == "delete")
    assert ins == list(range(15)) + [100, 101, 102]
    assert dels == list(range(15))
    # stream contents == read_changes over the same version range
    feed = V.read_changes(spark, t, 0).collect()
    assert sorted(
        (r.id, r["_change_type"], r["_commit_version"]) for r in rows
    ) == sorted((r.id, r["_change_type"], r["_commit_version"]) for r in feed)


def test_versioned_source_schema_evolution_pads_nulls(spark, tmp_path):
    from pyspark.sql import functions as F

    from ballista_mvp_spark.sources import versioned_stream as VS

    VS.register(spark)
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 3), t)
    V.write_versioned(
        spark.range(3, 5).withColumn("tag", F.lit("new")), t, mode="append"
    )
    df = spark.read.format("versioned_table").option("path", t).load()
    assert {r.id: r.tag for r in df.collect()} == {
        0: None, 1: None, 2: None, 3: "new", 4: "new"
    }


# ---------------------------------------------------------------------------
# Row-level DELETE / MERGE / RESTORE commits


def _setup_keyed(spark, t):
    """Two commits with disjoint id ranges, one file each, stats on id —
    so file-level effects of row mutations are observable."""
    V.write_versioned(
        spark.range(0, 10).toDF("id").coalesce(1), t, stats_cols=["id"]
    )
    V.write_versioned(
        spark.range(100, 110).toDF("id").coalesce(1),
        t,
        mode="append",
        stats_cols=["id"],
    )
    m = V._read_manifest(t, 2)
    assert m["n_files"] == 2
    return m


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    m2 = _setup_keyed(spark, t)
    low_file = [f for f in m2["files"] if m2["stats"][f]["id"][0] == 0][0]
    high_file = [f for f in m2["files"] if f != low_file][0]
    v = V.delete_versioned(spark, t, "id % 3 = 0 AND id < 50", stats_cols=["id"])
    assert v == 3
    m3 = V._read_manifest(t, 3)
    # the high-range file carried over BY REFERENCE; the low one was rewritten
    assert high_file in m3["files"] and low_file not in m3["files"]
    assert m3["op"] == "delete" and m3["n_rewritten"] == 1
    # carried file keeps its recorded stats
    assert m3["stats"][high_file] == m2["stats"][high_file]
    assert _ids(V.read_versioned(spark, t)) == [
        i for i in range(10) if i % 3 != 0
    ] + list(range(100, 110))
    # time travel to the pre-delete snapshot is intact
    assert _ids(V.read_versioned(spark, t, version=2)) == list(range(10)) + list(
        range(100, 110)
    )


def test_delete_no_match_commits_nothing(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    assert V.delete_versioned(spark, t, "id > 10000") == 2
    assert [h["version"] for h in V.history(t)] == [1, 2]


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """DELETE WHERE uses three-valued logic: NULL predicate keeps the row."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 40)], "id int, score int"
    ).coalesce(1)
    V.write_versioned(df, t)
    V.delete_versioned(spark, t, "score > 10")
    assert _ids(V.read_versioned(spark, t)) == [1, 2]


def test_delete_manifest_prune_skips_phase1_scan(spark, tmp_path):
    """With prune bounds, files whose stats miss the interval are not
    even phase-1 scanned; result identical."""
    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    v = V.delete_versioned(
        spark, t, "id = 105", stats_cols=["id"], prune=("id", 100, 110)
    )
    m = V._read_manifest(t, v)
    assert m["n_rewritten"] == 1
    assert _ids(V.read_versioned(spark, t)) == list(range(10)) + [
        i for i in range(100, 110) if i != 105
    ]


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "old") for i in range(5)], "id int, tag string"
    ).coalesce(1)
    V.write_versioned(df, t, stats_cols=["id"])
    V.write_versioned(
        spark.createDataFrame(
            [(i, "old") for i in range(100, 105)], "id int, tag string"
        ).coalesce(1),
        t,
        mode="append",
        stats_cols=["id"],
    )
    source = spark.createDataFrame(
        [(3, "new"), (4, "new"), (200, "ins")], "id int, tag string"
    )
    v = V.merge_versioned(spark, t, source, key="id", stats_cols=["id"])
    m = V._read_manifest(t, v)
    # only the low file overlaps [3, 200]... both files overlap the key
    # RANGE, but only the low file CONTAINS a matched key -> 1 rewritten
    assert m["op"] == "merge" and m["n_rewritten"] == 1
    rows = {r.id: r.tag for r in V.read_versioned(spark, t).collect()}
    assert rows[3] == "new" and rows[4] == "new" and rows[200] == "ins"
    assert rows[0] == "old" and rows[100] == "old"
    assert len(rows) == 11
    # pre-merge snapshot intact
    assert _ids(V.read_versioned(spark, t, version=2)) == list(range(5)) + list(
        range(100, 105)
    )


def test_merge_disjoint_keys_is_pure_insert(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    source = spark.range(500, 503).toDF("id")
    v = V.merge_versioned(spark, t, source, key="id", stats_cols=["id"])
    m = V._read_manifest(t, v)
    assert m["n_rewritten"] == 0
    assert _ids(V.read_versioned(spark, t)) == list(range(10)) + list(
        range(100, 110)
    ) + [500, 501, 502]


def test_merge_rejects_bad_source_keys(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 5), t)
    with pytest.raises(ValueError, match="not unique"):
        V.merge_versioned(
            spark, t, spark.createDataFrame([(1,), (1,)], "id long"), key="id"
        )
    with pytest.raises(ValueError, match="NULL"):
        V.merge_versioned(
            spark,
            t,
            spark.createDataFrame([(None,), (2,)], "id long"),
            key="id",
        )
    # empty source: no-op, no commit
    assert V.merge_versioned(spark, t, spark.range(0).toDF("id"), key="id") == 1


def test_merge_change_feed_invariant(spark, tmp_path):
    """snapshot(from) + inserts - deletes == snapshot(to) across a merge
    commit (multiset), so incremental consumers absorb upserts for free."""
    from collections import Counter

    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    source = spark.createDataFrame([(5,), (105,), (300,)], "id long")
    v = V.merge_versioned(spark, t, source, key="id", stats_cols=["id"])
    before = Counter(r.id for r in V.read_versioned(spark, t, version=2).collect())
    after = Counter(r.id for r in V.read_versioned(spark, t, version=v).collect())
    got = Counter(before)
    for r in V.read_changes(spark, t, 2, v).collect():
        if r["_change_type"] == "insert":
            got[r.id] += 1
        else:
            got[r.id] -= 1
    assert +got == after


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    V.delete_versioned(spark, t, "id < 5")  # v3: the "mistake"
    n_data_files_before = len(glob.glob(os.path.join(t, "data", "*", "*.parquet")))
    v = V.restore_versioned(t, 2)
    assert v == 4
    # zero data files written: pure manifest commit
    assert (
        len(glob.glob(os.path.join(t, "data", "*", "*.parquet")))
        == n_data_files_before
    )
    m = V._read_manifest(t, 4)
    assert m["op"] == "restore" and m["restored_from"] == 2 and m["n_added"] == 0
    assert _ids(V.read_versioned(spark, t)) == list(range(10)) + list(range(100, 110))
    # the mistake stays in the log (auditable), and vacuum keeps the
    # restored head's files because the head manifest references them
    assert [h["op"] for h in V.history(t)] == ["append", "append", "delete", "restore"]
    V.vacuum(t, keep_last=1)
    assert _ids(V.read_versioned(spark, t)) == list(range(10)) + list(range(100, 110))


def test_restore_errors(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _setup_keyed(spark, t)
    with pytest.raises(FileNotFoundError, match="not in"):
        V.restore_versioned(t, 9)
    V.write_versioned(spark.range(50, 55), t, mode="overwrite")
    V.vacuum(t, keep_last=1)  # v1/v2 files reclaimed
    with pytest.raises(FileNotFoundError, match="no committed version"):
        V.restore_versioned(str(tmp_path / "nope"), 1)


def test_cdc_merge_sink_streaming_upsert(spark, tmp_path):
    """Change stream → MERGE commits: the table converges to the latest
    row per key (not an append log); replayed batch ids are dropped;
    checkpoint restart with no new data commits nothing."""
    src = tmp_path / "src"
    src.mkdir()
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(i, "v1", 1) for i in range(5)], "id int, val string, seq int"
    ).coalesce(1).write.parquet(str(src / "a"))

    def run():
        q = (
            spark.readStream.schema("id int, val string, seq int")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .writeStream.foreachBatch(
                V.cdc_merge_sink(tbl, key="id", seq_col="seq", stats_cols=["id"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert {(r.id, r.val) for r in V.read_versioned(spark, tbl).collect()} == {
        (i, "v1") for i in range(5)
    }
    n_versions = len(V.history(tbl))

    # restart, nothing new: no commits
    run()
    assert len(V.history(tbl)) == n_versions

    # next batch: two changes for id=2 (seq 2 then 3 — latest wins),
    # one brand-new key
    spark.createDataFrame(
        [(2, "stale", 2), (2, "fresh", 3), (9, "new", 2)],
        "id int, val string, seq int",
    ).coalesce(1).write.parquet(str(src / "b"))
    run()
    rows = {(r.id, r.val) for r in V.read_versioned(spark, tbl).collect()}
    assert rows == {(0, "v1"), (1, "v1"), (3, "v1"), (4, "v1"), (2, "fresh"), (9, "new")}
    m = V._read_manifest(tbl, len(V.history(tbl)))
    assert m["op"] == "merge" and m["n_rewritten"] == 1

    # at-least-once replay of a committed batch id: dropped
    sink = V.cdc_merge_sink(tbl, key="id", seq_col="seq")
    committed = [
        V._read_manifest(tbl, h["version"]).get("batch_id")
        for h in V.history(tbl)
    ]
    sink(
        spark.createDataFrame([(2, "ghost", 99)], "id int, val string, seq int"),
        committed[-1],
    )
    assert {(r.id, r.val) for r in V.read_versioned(spark, tbl).collect()} == rows


def test_mutate_with_retry_rebases_on_lost_race(spark, tmp_path, monkeypatch):
    """A lost manifest-link race re-runs the full plan against the new
    head and succeeds; non-race errors propagate immediately."""
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 3), t)
    # a racing winner lands v2 between the loser's read and its link
    with open(V._manifest_path(t, 2), "w") as fh:
        json.dump(
            {"version": 2, "op": "append",
             "files": V._read_manifest(t, 1)["files"],
             "n_files": 1, "n_added": 0}, fh,
        )
    real_versions = V._versions
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return [1] if calls["n"] == 1 else real_versions(p)

    monkeypatch.setattr(V, "_versions", stale_once)
    v = V.mutate_with_retry(
        lambda: V.write_versioned(spark.range(3, 6), t, mode="append")
    )
    assert v == 3
    monkeypatch.setattr(V, "_versions", real_versions)
    assert _ids(V.read_versioned(spark, t)) == list(range(6))

    # exhausted retries: the race error surfaces
    monkeypatch.setattr(V, "_versions", lambda p: [1])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.mutate_with_retry(
            lambda: V.write_versioned(spark.range(9, 12), t, mode="append"),
            retries=2,
        )
    monkeypatch.setattr(V, "_versions", real_versions)

    # a non-race error is NOT retried
    boom = {"n": 0}

    def bad():
        boom["n"] += 1
        raise RuntimeError("schema mismatch")

    with pytest.raises(RuntimeError, match="schema mismatch"):
        V.mutate_with_retry(bad)
    assert boom["n"] == 1


def test_update_rewrites_only_touched_files(spark, tmp_path):
    """UPDATE: simultaneous assignments against the OLD row, NULL
    predicate rows untouched, only containing files rewritten, value
    types preserved."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10, 100), (2, None, 200), (3, 30, 300)], "id int, a int, b int"
    ).coalesce(1)
    V.write_versioned(df, t, stats_cols=["id"])
    V.write_versioned(
        spark.createDataFrame([(50, 5, 5)], "id int, a int, b int").coalesce(1),
        t, mode="append", stats_cols=["id"],
    )
    v = V.update_versioned(
        spark, t, {"a": "b", "b": "a + b"}, "a > 5 AND id < 10"
    )
    m = V._read_manifest(t, v)
    assert m["op"] == "update" and m["n_rewritten"] == 1
    rows = {r.id: (r.a, r.b) for r in V.read_versioned(spark, t).collect()}
    # id=1: a<-b(100), b<-a+b(110) evaluated against the OLD row
    assert rows[1] == (100, 110) and rows[3] == (300, 330)
    assert rows[2] == (None, 200)  # NULL predicate: untouched
    assert rows[50] == (5, 5)      # untouched file carried by reference
    # no match / unknown column
    assert V.update_versioned(spark, t, {"a": "0"}, "id > 999") == v
    with pytest.raises(ValueError, match="unknown columns"):
        V.update_versioned(spark, t, {"nope": "1"}, "id = 1")


def test_table_rows_metadata_only_count(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 7), t)
    V.write_versioned(spark.range(7, 12), t, mode="append")
    assert V.table_rows(t) == 12
    assert V.table_rows(t, version=1) == 7
    V.delete_versioned(spark, t, "id < 3")
    assert V.table_rows(t) == 9
    # count survives restore (stats carried wholesale)
    V.restore_versioned(t, 2)
    assert V.table_rows(t) == 12
    with pytest.raises(FileNotFoundError):
        V.table_rows(str(tmp_path / "none"))


def test_concurrent_appenders_all_land_with_retry(spark, tmp_path):
    """REAL race (no monkeypatch): 6 threads append concurrently through
    mutate_with_retry. Every commit must land (serialized by the
    create-exclusive link), no version skipped, no rows lost."""
    import threading

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 1), t)
    errs = []
    barrier = threading.Barrier(6)

    def appender(i):
        try:
            barrier.wait()
            V.mutate_with_retry(
                lambda: V.write_versioned(
                    spark.range(100 * i, 100 * i + 3), t, mode="append"
                ),
                retries=20,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(1, 7)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errs, errs
    assert [h["version"] for h in V.history(t)] == list(range(1, 8))
    expect = [0] + [100 * i + j for i in range(1, 7) for j in range(3)]
    assert _ids(V.read_versioned(spark, t)) == sorted(expect)
    assert V.table_rows(t) == 19


def test_mutations_preserve_evolved_schema(spark, tmp_path):
    """Row-level mutations and compaction on a schema-evolved live set
    must rewrite with the UNION schema (ADVICE r4): without mergeSchema
    on the touched-file re-read, Spark infers the schema from one
    arbitrary file and a DELETE touching mixed-schema files could
    silently drop the later-added column from the rewritten files —
    permanent loss at the new head."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 4).toDF("id").coalesce(1), t,
                      stats_cols=["id"])
    V.write_versioned(
        spark.range(4, 8).select("id", F.lit("en").alias("lang")).coalesce(1),
        t, mode="append", stats_cols=["id"],
    )
    # DELETE matches rows in BOTH files -> both rewritten together
    V.delete_versioned(spark, t, "id IN (0, 5)", stats_cols=["id"])
    got = {r.id: r.lang
           for r in V.read_versioned(spark, t, merge_schema=True).collect()}
    assert got == {1: None, 2: None, 3: None, 4: "en", 6: "en", 7: "en"}
    # UPDATE touching both files keeps the evolved column too
    V.update_versioned(spark, t, {"id": "id + 100"}, "id IN (1, 4)",
                       stats_cols=["id"])
    got = {r.id: r.lang
           for r in V.read_versioned(spark, t, merge_schema=True).collect()}
    assert got == {101: None, 2: None, 3: None, 104: "en", 6: "en", 7: "en"}
    # predicate on the EVOLVED column analyzes (NULL for old files = keep)
    V.delete_versioned(spark, t, "lang = 'en' AND id = 6")
    ids = sorted(r.id for r in
                 V.read_versioned(spark, t, merge_schema=True).collect())
    assert ids == [2, 3, 7, 101, 104]
    # compaction of the mixed-schema live set keeps the union schema
    V.compact_versioned(spark, t)
    head = V.read_versioned(spark, t)
    assert set(head.columns) == {"id", "lang"}
    assert {r.id: r.lang for r in head.collect()} == {
        2: None, 3: None, 101: None, 7: "en", 104: "en"}
    # MERGE validates the source against the UNION target schema
    src = spark.createDataFrame([(2, "fr"), (999, "de")], "id long, lang string")
    V.merge_versioned(spark, t, src, key="id")
    got = {r.id: r.lang for r in V.read_versioned(spark, t).collect()}
    assert got[2] == "fr" and got[999] == "de" and got[104] == "en"


def test_prune_typed_date_stats(spark, tmp_path):
    """read_versioned(prune=) with a date/timestamp probe must use the
    same string-domain overlap as delete/update/merge (ADVICE r4):
    manifest stats are ISO strings (json default=str), so a typed probe
    used to raise TypeError in read_versioned's raw comparison."""
    import datetime

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    for mo in (1, 2):
        V.write_versioned(
            spark.range(0, 3)
            .select(F.make_date(F.lit(2026), F.lit(mo), F.col("id") + 1)
                    .alias("d"))
            .coalesce(1),
            t, mode="append", stats_cols=["d"],
        )
    probe_lo = datetime.date(2026, 2, 1)
    probe_hi = datetime.date(2026, 2, 28)
    pruned = V.read_versioned(spark, t, prune=("d", probe_lo, probe_hi))
    assert len(pruned.inputFiles()) == 1  # January file skipped
    assert pruned.count() == 3


def test_cdc_first_batch_enforces_key_invariant(spark, tmp_path):
    """The first batch on an empty table seeds it via write_versioned —
    it must pass the same NULL-key / unique-key validation
    merge_versioned applies from batch 2 on (ADVICE r4)."""
    sink = V.cdc_merge_sink(str(tmp_path / "t1"), key="id")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id int, val string")
    with pytest.raises(ValueError, match="not unique"):
        sink(dup, 0)
    sink2 = V.cdc_merge_sink(str(tmp_path / "t2"), key="id")
    nulls = spark.createDataFrame([(None, "a"), (2, "b")], "id int, val string")
    with pytest.raises(ValueError, match="NULL"):
        sink2(nulls, 0)
    # neither invalid batch committed anything
    assert V._versions(str(tmp_path / "t1")) == []
    assert V._versions(str(tmp_path / "t2")) == []
    # a valid first batch still seeds the table
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    sink(ok, 0)
    assert {r.id for r in V.read_versioned(spark, str(tmp_path / "t1")).collect()} \
        == {1, 2}


def test_concurrent_row_mutations_conflict_and_rebase(spark, tmp_path):
    """Two row-level mutations racing on the SAME head (both plans built
    against the same manifest, both may touch the same file): exactly
    one wins the manifest link; the loser's mutate_with_retry re-plans
    from the winner's head, so BOTH effects land and no stale file
    reference survives. This is the conflict class beyond the
    single-winner append race: a rewrite-vs-rewrite conflict where
    replanning is semantically required, not just version renumbering."""
    import threading

    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 10).toDF("id").coalesce(1), t,
                      stats_cols=["id"])
    barrier = threading.Barrier(2)
    errs = []

    def deleter():
        try:
            barrier.wait()
            V.mutate_with_retry(
                lambda: V.delete_versioned(spark, t, "id < 2"), retries=20)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def updater():
        try:
            barrier.wait()
            V.mutate_with_retry(
                lambda: V.update_versioned(spark, t, {"id": "id + 100"},
                                           "id >= 8"),
                retries=20)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=deleter), threading.Thread(target=updater)]
    for x in th:
        x.start()
    for x in th:
        x.join(timeout=300)
    assert not errs, errs
    # both mutations landed, in SOME serial order
    assert _ids(V.read_versioned(spark, t)) == [2, 3, 4, 5, 6, 7, 108, 109]
    # manifest integrity: every live file exists on disk
    head = V._read_manifest(t, V._versions(t)[-1])
    for f in head["files"]:
        assert os.path.exists(os.path.join(t, f)), f
    # history shows three commits (initial + two mutations)
    assert len(V.history(t)) == 3


def test_commit_rewrite_detects_interloper_between_plan_and_link(spark, tmp_path):
    """Lost-update guard (round-6 review): a commit that lands while a
    mutation's rewrite job runs must make the mutation's manifest link
    FAIL with 'concurrent commit' (so mutate_with_retry re-plans), not
    silently clobber the interloper's rows by linking head+2."""
    import pytest

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    V.write_versioned(df, t)  # v1
    # simulate: mutation planned against head 1, interloper commits v2
    V.write_versioned(spark.createDataFrame([(3, "c")], ["id", "v"]), t)
    out = spark.createDataFrame([(1, "a2")], ["id", "v"])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V._commit_rewrite(t, out, [], "update", {}, None, 1, head_v=1)
    # the interloper's rows are still at the head
    assert V.read_versioned(spark, t).count() == 3


def test_write_versioned_expected_head_pin(spark, tmp_path):
    """Compaction-style content-preserving rewrites pin the head they
    read; a moved head raises instead of forking the interloper away."""
    import pytest

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], ["id"]), t)  # v1
    V.write_versioned(spark.createDataFrame([(2,)], ["id"]), t)  # v2
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.write_versioned(
            spark.createDataFrame([(9,)], ["id"]), t,
            mode="overwrite", expected_head=1,
        )
    assert V.read_versioned(spark, t).count() == 2  # nothing clobbered


def test_merge_keeps_evolved_column_when_touched_files_predate_it(spark, tmp_path):
    """Schema-evolution upsert: merging into keys that live ONLY in
    pre-evolution files must not project the evolved column off the
    source rows."""
    from pyspark.sql import functions as F

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    # v1: (id, v) — predates lang
    V.write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), t,
        stats_cols=["id"],
    )
    # v2: evolved append with lang, ids far away so only file A matches
    V.write_versioned(
        spark.createDataFrame([(100, "x", "en")], ["id", "v", "lang"]), t,
        stats_cols=["id"],
    )
    src = spark.createDataFrame([(1, "a2", "de")], ["id", "v", "lang"])
    V.merge_versioned(spark, t, src, key="id", stats_cols=["id"])
    got = {
        r.id: (r.v, r.lang)
        for r in V.read_versioned(spark, t, merge_schema=True).collect()
    }
    assert got[1] == ("a2", "de")  # evolved column survived the rewrite
    assert got[2] == ("b", None) and got[100] == ("x", "en")


def test_vacuum_age_guards_staged_files_in_mixed_commit_dirs(spark, tmp_path):
    """A never-committed file inside a directory that ALSO holds live
    files (the streaming writer's shared staging dir) is an in-flight
    micro-batch until the retention window passes — vacuum must not
    delete it young."""
    import os

    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1,)], ["id"]), t)  # v1
    m = V._read_manifest(t, 1)
    cdir = os.path.join(t, os.path.dirname(m["files"][0]))
    staged = os.path.join(cdir, "part-inflight.parquet")
    with open(staged, "wb") as fh:
        fh.write(b"PAR1fake")
    V.vacuum(t, keep_last=1)  # default 24 h retention
    assert os.path.exists(staged)  # young in-flight file survives
    V.vacuum(t, keep_last=1, retain_seconds=0)
    assert not os.path.exists(staged)  # expired orphan reclaimed


def test_replay_guard_survives_vacuum_of_batch_manifest(spark, tmp_path):
    """Exactly-once across ops: vacuuming the manifest that recorded a
    batch id must not re-open the replay window — the ledger keeps the
    id visible and a replayed batch is still skipped."""
    from ballista_mvp_spark.sources import versioned as V

    t = str(tmp_path / "t")
    sink = V.foreach_batch_sink(t)
    b41 = spark.createDataFrame([(1, "a")], ["id", "v"])
    sink(b41, 41)  # v1 stamped batch_id=41
    V.compact_versioned(spark, t)  # v2, no batch id
    V.vacuum(t, keep_last=1, retain_seconds=0)  # drops v1's manifest
    assert 41 in V.committed_batch_ids(t)
    sink(b41, 41)  # checkpoint-lagged replay after vacuum
    assert V.read_versioned(spark, t).count() == 1  # not double-committed


def test_empty_version_reads_as_zero_rows(spark, tmp_path):
    """A truncating overwrite (zero files) is data, not an error: reads
    return 0 rows with the schema of the nearest schema-carrying
    version, and the stream-reader schema probe works too."""
    from ballista_mvp_spark.sources import versioned as V
    from ballista_mvp_spark.sources.versioned_stream import _table_schema

    t = str(tmp_path / "t")
    V.write_versioned(spark.createDataFrame([(1, "a")], ["id", "v"]), t)
    V.commit_files(t, [], mode="overwrite")  # truncate: v2 with no files
    got = V.read_versioned(spark, t)
    assert got.count() == 0 and set(got.columns) == {"id", "v"}
    assert {f.name for f in _table_schema(t).fields} == {"id", "v"}
    # time travel to v1 still sees the row
    assert V.read_versioned(spark, t, version=1).count() == 1


def test_stream_abort_removes_task_receipt_files(spark, tmp_path):
    """Spark hands abort() a FRESH writer instance (new staging token),
    so cleanup must target the files named in the task receipts, not the
    abort instance's own never-used staging dir."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from ballista_mvp_spark.sources import versioned_stream as VS

    t = str(tmp_path / "t")
    os.makedirs(os.path.join(t, "data", "commit-w-exec"), exist_ok=True)
    staged = os.path.join(t, "data", "commit-w-exec", "part-x.parquet")
    with open(staged, "wb") as fh:
        fh.write(b"PAR1fake")
    schema = StructType([StructField("id", LongType())])
    # a FRESH writer (different token), as the commit runner constructs
    fresh = VS.VersionedTableStreamWriter({"path": t}, schema)
    msg = VS._WroteFile(os.path.join("data", "commit-w-exec", "part-x.parquet"), 1)
    fresh.abort([msg], 7)
    assert not os.path.exists(staged)


def test_interloper_append_between_plan_and_link_never_lost(spark, tmp_path, monkeypatch):
    """The exact staggered interleaving the round-6 review flagged: a
    commit lands WHILE a mutation's rewrite job runs (after the plan
    read, before the manifest link). With the version pinned to the
    planning head, the mutation's first link must FAIL and the retry
    must re-plan on top of the interloper — its rows survive. (The
    pre-fix code computed the version from a fresh listing and silently
    linked OVER the interloper, dropping its committed rows.)"""
    t = str(tmp_path / "tbl")
    V.write_versioned(spark.range(0, 10).toDF("id").coalesce(1), t,
                      stats_cols=["id"])
    orig = V._commit_rewrite
    fired = {"done": False}

    def commit_with_interloper(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            # interloper: lands AFTER the delete planned its untouched
            # list against v1, BEFORE its manifest link
            V.write_versioned(
                spark.createDataFrame([(100,)], "id long"), t
            )
        return orig(*a, **k)

    monkeypatch.setattr(V, "_commit_rewrite", commit_with_interloper)
    V.mutate_with_retry(lambda: V.delete_versioned(spark, t, "id < 2"),
                        retries=5)
    ids = sorted(r.id for r in V.read_versioned(spark, t).collect())
    assert ids == [2, 3, 4, 5, 6, 7, 8, 9, 100]  # interloper row SURVIVED
    # history: v1 seed, v2 interloper, v3+ the (re-planned) delete
    assert V._versions(t)[0:2] == [1, 2] and len(V._versions(t)) >= 3


# One column per type the engine writes; `i64` is the row key.
_TYPE_MATRIX_SQL = """
SELECT CAST(id AS TINYINT) AS i8, CAST(id AS SMALLINT) AS i16,
       CAST(id AS INT) AS i32, id AS i64,
       CAST(id / 4 AS FLOAT) AS f32, id / 3 AS f64,
       CAST(id * 1.25 AS DECIMAL(12,2)) AS d12,
       CAST(id / 7 AS DECIMAL(38,10)) AS d38,
       date_add(DATE'2024-02-28', CAST(id AS INT)) AS dt,
       TIMESTAMP'2024-01-01 00:00:00' + make_dt_interval(0, CAST(id AS INT)) AS ts,
       TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(CAST(id AS INT)) AS ts_ntz,
       CAST(id AS STRING) AS s,
       CAST(CAST(id AS STRING) AS BINARY) AS bin,
       id % 2 = 0 AS flag,
       array(id, NULL) AS arr,
       map('k', id) AS m,
       named_struct('a', array(named_struct('x', id, 'y', CAST(id AS STRING)))) AS nested,
       CAST(NULL AS DOUBLE) AS all_null
FROM range(6)
"""


def _type_matrix(spark, staged: str):
    """The matrix plus char/varchar columns (a string column carrying
    Spark's char/varchar metadata, as a catalog table's DataFrame does),
    staged through parquet so every column is nullable, like any column
    read from a table."""
    from pyspark.sql import functions as F

    meta = "__CHAR_VARCHAR_TYPE_STRING"
    spark.sql(_TYPE_MATRIX_SQL).select(
        "*",
        F.col("s").alias("ch", metadata={meta: "char(4)"}),
        F.col("s").alias("vc", metadata={meta: "varchar(8)"}),
    ).write.parquet(staged)
    return spark.read.parquet(staged)


def _by_key(df):
    return sorted(df.collect(), key=lambda r: r.i64)


def test_recorded_schema_matches_inference(spark, tmp_path):
    """Each commit records its directory's Spark schema from the footers;
    reads planned from it give exactly the schema (metadata included)
    and rows Spark's own footer inference gives, with merge_schema on
    and off."""
    t = str(tmp_path / "t")
    src = _type_matrix(spark, str(tmp_path / "staged"))
    V.write_versioned(src.repartition(2), t)
    V.write_versioned(src.limit(0), t)  # an empty write: a file, no rows
    m = V._read_manifest(t, 2)
    assert len(m["schemas"]) == 2  # one entry per write, not per file
    files = [os.path.join(t, f) for f in m["files"]]
    for merge in (False, True):
        got = V.read_versioned(spark, t, merge_schema=merge)
        want = spark.read.option("mergeSchema", str(merge).lower()).parquet(*files)
        assert got.schema.json() == want.schema.json()
        assert _by_key(got) == _by_key(want)
        assert len(_by_key(got)) == 6


def test_versioned_reads_plan_without_spark_jobs(spark, tmp_path):
    """With schemas recorded at commit, building a read of any version
    after UPDATE, OPTIMIZE and RESTORE, and building the change feed,
    opens no footer: Spark's job counter does not move."""
    t = str(tmp_path / "t")
    src = _type_matrix(spark, str(tmp_path / "staged"))
    V.write_versioned(src.repartition(3), t)  # v1
    V.update_versioned(spark, t, {"s": "concat(s, '!')"}, "i64 = 2")  # v2
    V.compact_versioned(spark, t)  # v3
    V.restore_versioned(t, 1)  # v4
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    frames = [V.read_versioned(spark, t, version=v) for v in (1, 2, 3, 4)]
    feed = V.read_changes(spark, t, from_version=0)
    assert dag.nextJobId() == before
    assert [f.count() for f in frames] == [6, 6, 6, 6]
    assert sorted(r.s for r in frames[2].collect()) == ["0", "1", "2!", "3", "4", "5"]
    assert feed.filter("_change_type = 'insert'").count() > 0


def test_manifest_without_schemas_falls_back_to_inference(spark, tmp_path):
    """A manifest with no ``schemas`` entry (as written before schemas
    were recorded) and a schema-evolved live set both plan through
    Spark's footer inference, with unchanged results."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    src = _type_matrix(spark, str(tmp_path / "staged"))
    V.write_versioned(src.filter("i64 < 3"), t)
    V.write_versioned(src.filter("i64 >= 3"), t)
    want = V.read_versioned(spark, t)
    want_schema, want_rows = want.schema.json(), _by_key(want)
    for p in glob.glob(os.path.join(t, "_manifests", "v*.json")):
        with open(p) as fh:
            m = json.load(fh)
        del m["schemas"]
        with open(p, "w") as fh:
            json.dump(m, fh)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    got = V.read_versioned(spark, t)
    assert dag.nextJobId() > before  # footer inference ran
    assert got.schema.json() == want_schema and _by_key(got) == want_rows

    e = str(tmp_path / "evolved")
    V.write_versioned(spark.range(0, 3).toDF("id"), e)
    V.write_versioned(spark.range(3, 5).select("id", F.lit("en").alias("lang")), e)
    before = dag.nextJobId()
    merged = V.read_versioned(spark, e, merge_schema=True)
    assert dag.nextJobId() > before
    assert merged.columns == ["id", "lang"]
    assert sorted((r.id, r.lang) for r in merged.collect()) == [
        (0, None), (1, None), (2, None), (3, "en"), (4, "en")
    ]


@pytest.mark.parametrize(
    "name, key",
    [
        ("versioned_time_travel", "version"),
        ("versioned_update_restore", "version"),
        ("versioned_cdf", "version"),
        ("streaming_cdc_upsert", "user_id"),
    ],
)
def test_versioned_builders_return_local_relation(spark, name, key):
    """The versioned registry builders assemble their few result rows on
    the driver: the frame is a LocalRelation in key order, also with the
    session's Arrow conf off (the driver's vanilla session)."""
    from ballista_mvp_spark.queries import ALL_QUERIES

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        df = ALL_QUERIES[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        keys = [r[key] for r in df.collect()]
    finally:
        spark.conf.set(conf, old)
    assert keys and keys == sorted(keys)
