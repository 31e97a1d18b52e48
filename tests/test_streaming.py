"""Structured Streaming operator tests: batch/stream plan parity, the
stateful sessionization contract, and sliding windows."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ballista_mvp_spark.queries import ALL_QUERIES
from ballista_mvp_spark.queries.events import (
    streaming_session_close,
    streaming_sessionize,
    streaming_tumbling,
)
from ballista_mvp_spark.streaming import _events_stream, drain, sliding_agg, tumbling_agg
from ballista_mvp_spark.tables import load_table

from .conftest import SF_SMALL


def test_tumbling_stream_equals_batch(spark):
    ev = load_table(spark, SF_SMALL, "events")
    batch = {tuple(r) for r in tumbling_agg(ev).collect()}
    stream = {tuple(r) for r in streaming_tumbling(spark, SF_SMALL).collect()}
    assert batch == stream


def test_streaming_queries_leave_no_session_state(spark):
    """A long-lived session keeps nothing from a streaming registry
    query: every drain stops its query and drops its sink's temp view
    (which would otherwise hold the sink's rows in driver memory), also
    when the plan fails, and the returned frame stays collectable after
    the drop."""

    def state():
        temp = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return temp, {q.id for q in spark.streams.active}

    before = state()
    for name in sorted(n for n in ALL_QUERIES if n.startswith("streaming_")):
        assert ALL_QUERIES[name](spark, SF_SMALL).collect(), name
        assert state() == before, name
    # a failing plan is stopped and its view dropped too
    failing = _events_stream(spark, SF_SMALL).select(F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        drain(spark, failing, "append")
    assert state() == before


def test_events_stream_pins_utc_session_zone(spark):
    """The streaming events source makes the same ts decision as the
    batch read: on a non-UTC session it pins UTC, or every hour shifts
    by the zone's offset against the oracle's naive read."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        src = _events_stream(spark, SF_SMALL)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert dict(src.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_stateful_sessionize_equals_batch_windows(spark):
    from ballista_mvp_spark.queries.events import events_sessionize

    batch = {
        (r.user_id, r.n_sessions, r.n_events, r.max_sess_len)
        for r in events_sessionize(spark, SF_SMALL).collect()
    }
    stream = {
        (r.user_id, r.n_sessions, r.n_events, r.max_sess_len)
        for r in streaming_sessionize(spark, SF_SMALL).collect()
    }
    assert batch == stream


def test_sliding_windows_overlap(spark):
    ev = load_table(spark, SF_SMALL, "events")
    tumbling = tumbling_agg(ev).agg(F.sum("n").alias("s")).head().s
    sliding = sliding_agg(ev).agg(F.sum("n").alias("s")).head().s
    # each event falls in exactly 4 overlapping 1h/15min windows
    assert sliding == 4 * tumbling


def test_session_emit_on_close_equals_batch(spark):
    """Event-time-timeout sessions: streaming emits exactly the sessions a
    batch recomputation says are closed (gap-closed mid-stream, or
    timed out because end-of-stream watermark passed end+gap)."""
    from pyspark.sql import Window as W

    gap = 1800  # the registry query's gap
    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", F.col("ts").cast("double").alias("t"), "event_id")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    sess = (
        ev.withColumn("prev", F.lag("t").over(w))
        .withColumn("new_s", (F.col("prev").isNull() | (F.col("t") - F.col("prev") > gap)).cast("int"))
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(F.min("t").alias("session_start"), F.max("t").alias("session_end"),
             F.count("*").alias("n_events"))
    )
    gmax = ev.agg(F.max("t")).head()[0]
    last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("max_sid"))
    expected = {
        (r.user_id, round(r.session_start, 6), round(r.session_end, 6), r.n_events)
        for r in sess.join(last_sid, "user_id")
        .filter((F.col("sid") < F.col("max_sid")) | (F.col("session_end") + gap <= gmax))
        .collect()
    }
    got = {
        (r.user_id, round(r.session_start, 6), round(r.session_end, 6), r.n_events)
        for r in streaming_session_close(spark, SF_SMALL).collect()
    }
    assert got == expected and len(got) > 0


def test_incremental_sink_matches_batch_and_is_idempotent(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: the materialized table
    equals the batch rollup, and re-running the stream over the same data
    (fresh checkpoint → full replay) leaves the table unchanged — the
    post-failure replay contract."""
    from ballista_mvp_spark.queries.events import events_hourly
    from ballista_mvp_spark.streaming import run_incremental_sink

    out = str(tmp_path / "rollup")
    expected = {
        tuple(r)
        for r in events_hourly(spark, SF_SMALL).select("hour", "event_type", "n", "sum_v").collect()
    }

    def read_back():
        # partition-dir values are re-inferred as timestamps on read;
        # normalize to the rollup's string form for comparison
        return {
            tuple(r)
            for r in spark.read.parquet(out)
            .selectExpr(
                "date_format(cast(hour as timestamp), 'yyyy-MM-dd HH:mm:ss') AS hour",
                "event_type", "n", "sum_v",
            )
            .collect()
        }

    run_incremental_sink(spark, SF_SMALL, out, str(tmp_path / "ckpt1"))
    assert read_back() == expected

    run_incremental_sink(spark, SF_SMALL, out, str(tmp_path / "ckpt2"))
    assert read_back() == expected


def test_checkpoint_restart_resumes_stream_state(spark, tmp_path):
    """Crash-recovery certification: the stream is STOPPED after
    processing the first half of the input, then RESTARTED from the same
    checkpoint dir with the second half present — offsets, watermark,
    and aggregation state must resume from the state store so the final
    materialized table equals the batch oracle exactly. A third run with
    the same checkpoint and no new data must change nothing (idempotent
    replay). This is the parity claim for the reference's
    executor-failure ⇒ stage-retry recovery (execution_graph.rs:292-411):
    in Spark the recovery unit is the checkpointed query."""
    from ballista_mvp_spark.queries.events import events_hourly
    from ballista_mvp_spark.streaming import run_incremental_sink

    from pyspark.sql import Window as W

    ev = load_table(spark, SF_SMALL, "events")
    # four time-ordered chunks (event-time order keeps every row inside
    # the 2h watermark across restarts, so the batch oracle applies)
    chunks = ev.withColumn("_c", F.ntile(4).over(W.orderBy("ts", "event_id")))
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    staged = str(tmp_path / "staged")
    chunks.write.partitionBy("_c").parquet(staged)

    import glob as _glob
    import shutil as _shutil

    def add_chunk(i: int) -> None:
        files = _glob.glob(f"{staged}/_c={i}/*.parquet")
        assert files
        for j, f in enumerate(files):
            _shutil.copy(f, str(src_dir / f"chunk{i}_{j}.parquet"))

    schema = ev.schema
    def source():
        return spark.readStream.schema(schema).parquet(str(src_dir))

    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")  # ONE checkpoint across all runs

    add_chunk(1)
    add_chunk(2)
    run_incremental_sink(spark, SF_SMALL, out, ckpt, source=source())
    # mid-stream state exists: some hours materialized, not all
    mid = spark.read.parquet(out).count()
    assert mid > 0

    add_chunk(3)
    add_chunk(4)
    run_incremental_sink(spark, SF_SMALL, out, ckpt, source=source())

    expected = {
        tuple(r)
        for r in events_hourly(spark, SF_SMALL)
        .select("hour", "event_type", "n", "sum_v")
        .collect()
    }

    def read_back():
        return {
            tuple(r)
            for r in spark.read.parquet(out)
            .select(
                F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type", "n", "sum_v",
            )
            .collect()
        }

    assert read_back() == expected

    # restart again with nothing new: no-op, table unchanged
    run_incremental_sink(spark, SF_SMALL, out, ckpt, source=source())
    assert read_back() == expected


def test_scd1_upsert_stream_restart_latest_wins(spark, tmp_path):
    """Keyed SCD1 streaming sink: stop after half the input, restart from
    the same checkpoint, and the current-state table must equal the
    batch oracle (newest event per user, event_id tie-break). A replay
    with nothing new must change nothing — latest-wins is idempotent."""
    from pyspark.sql import Window as W

    from ballista_mvp_spark.streaming import run_scd1_upsert_stream

    ev = load_table(spark, SF_SMALL, "events")
    chunks = ev.withColumn("_c", F.ntile(2).over(W.orderBy("ts", "event_id")))
    staged = str(tmp_path / "staged")
    chunks.write.partitionBy("_c").parquet(staged)
    src_dir = tmp_path / "src"
    src_dir.mkdir()

    import glob as _glob
    import shutil as _shutil

    def add_chunk(i: int) -> None:
        for j, f in enumerate(_glob.glob(f"{staged}/_c={i}/*.parquet")):
            _shutil.copy(f, str(src_dir / f"chunk{i}_{j}.parquet"))

    schema = ev.schema

    def source():
        return spark.readStream.schema(schema).parquet(str(src_dir))

    out = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    add_chunk(1)
    run_scd1_upsert_stream(spark, SF_SMALL, out, ckpt, source=source())
    assert spark.read.parquet(out).count() > 0

    add_chunk(2)
    run_scd1_upsert_stream(spark, SF_SMALL, out, ckpt, source=source())

    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = {
        tuple(r)
        for r in ev.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
        .collect()
    }

    def read_back():
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    assert read_back() == expected
    # one row per user, exactly the active users
    assert spark.read.parquet(out).count() == ev.select("user_id").distinct().count()

    # replay with no new data: byte-stable state
    run_scd1_upsert_stream(spark, SF_SMALL, out, ckpt, source=source())
    assert read_back() == expected


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Watermark semantics certified across real micro-batches: once the
    late-event watermark has advanced past a window, an event for that
    window is DROPPED (state evicted), while fresh events aggregate.
    Batch execution over the same files keeps the late row — the
    difference IS the watermark contract that bounds state at scale.
    Note Spark applies the late-event filter with the watermark of the
    PREVIOUS batch (eviction and filtering carry separate watermarks),
    hence the interposed batch before the late file."""
    import time as _time

    from pyspark.sql import functions as F

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()

    def write_batch(name, rows):
        (
            spark.createDataFrame(rows, "event_id long, ts_s string")
            .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
            .coalesce(1)
            .write.parquet(str(src_dir / name))
        )
        _time.sleep(1.1)  # file-source ordering is by modification time

    write_batch("b1", [(i, f"2024-01-01 0{h}:10:00") for i, h in enumerate([0, 1, 5, 8, 9])])
    write_batch("b2", [(50, "2024-01-01 11:10:00")])
    write_batch("b3", [(100, "2024-01-01 00:20:00"),   # late: filter watermark is past hour 0
                       (101, "2024-01-01 12:10:00")])  # fresh

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"), "n")
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_late")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    per_hour = {}
    for r in spark.table("wm_late").collect():
        per_hour.setdefault(r.hour, []).append(r.n)
    # hour 00 was updated only once (batch 1); the late event never re-updated it
    assert per_hour["2024-01-01 00:00:00"] == [1], per_hour
    # the fresh events were aggregated
    assert per_hour["2024-01-01 11:00:00"] == [1]
    assert per_hour["2024-01-01 12:00:00"] == [1]
    # batch execution over the same files DOES count the late event
    batch_h0 = (
        spark.read.parquet(f"{src_dir}/*")
        .where(F.date_trunc("hour", "ts") == "2024-01-01 00:00:00")
        .count()
    )
    assert batch_h0 == 2


def test_neardedup_ingest_gates_within_and_across_batches(spark, tmp_path):
    """Streaming near-dup ingest gate: batch 1 plants a within-batch
    near-dup (min-id survives); batch 2 — processed by a RESTARTED query
    from the same checkpoint — plants a near-dup of an already-accepted
    corpus doc (dropped via the materialized LSH index) plus a unique
    doc (accepted). Final accepted set must be exactly the uniques."""
    import json

    from ballista_mvp_spark.streaming import run_neardedup_ingest

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    accepted = str(tmp_path / "accepted")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content with its own vocabulary " * 6
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": base + "tiny tail tweak"}) + "\n")
        f.write(json.dumps({"doc_id": 3, "text": other}) + "\n")
    run_neardedup_ingest(spark, str(docs_dir), accepted, index, ckpt)
    got1 = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert got1 == {1, 3}, got1

    with open(docs_dir / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 4, "text": other + "small suffix"}) + "\n")
        f.write(json.dumps({"doc_id": 5, "text": "a fifth document about unrelated topics " * 6}) + "\n")
    run_neardedup_ingest(spark, str(docs_dir), accepted, index, ckpt)
    got2 = {r.doc_id for r in spark.read.parquet(accepted).collect()}
    assert got2 == {1, 3, 5}, got2
    # index holds band rows for every accepted doc and nothing else
    idx_ids = {r._id for r in spark.read.parquet(index).select("_id").distinct().collect()}
    assert idx_ids == {1, 3, 5}, idx_ids


def test_cms_rollup_partials_merge_to_direct_sketch(spark, tmp_path):
    """Incremental sketch rollup: per-batch partial CMS tables, merged on
    read, must equal the sketch built directly on all text — including
    after a checkpoint restart processes a second batch."""
    import json

    from ballista_mvp_spark.operators import dedup as D
    from ballista_mvp_spark.operators import sketch as SK
    from ballista_mvp_spark.streaming import read_cms, run_cms_rollup

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    t1 = "alpha beta gamma alpha"
    t2 = "beta beta delta"
    with open(docs_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": t1}) + "\n")
    run_cms_rollup(spark, str(docs_dir), sketch, ckpt, depth=3, width=256)
    with open(docs_dir / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 2, "text": t2}) + "\n")
    run_cms_rollup(spark, str(docs_dir), sketch, ckpt, depth=3, width=256)

    merged = read_cms(spark, sketch)
    both = spark.createDataFrame([(1, t1), (2, t2)], ["doc_id", "text"])
    toks = both.select(F.explode(D.tokens(F.col("text"))).alias("term"))
    direct = SK.cms_build(toks, "term", 3, 256)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in direct.collect()}
    items = spark.createDataFrame([("alpha",), ("beta",), ("delta",)], ["term"])
    est = {r.term: r.est for r in SK.cms_estimate(merged, items, "term", 3, 256).collect()}
    assert est == {"alpha": 2, "beta": 3, "delta": 1}


def test_stream_stream_left_outer_join_emits_evicted_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: inner matches equal the
    batch join; null-extended rows appear for exactly the unmatched
    clicks whose join window the FINAL watermark has passed (younger
    unmatched clicks stay in state on a finite input — that boundary is
    the point of the test)."""
    from pyspark.sql import Window as W

    from ballista_mvp_spark.streaming import stream_stream_left_join_plan

    ev = load_table(spark, SF_SMALL, "events")
    chunks = ev.withColumn("_c", F.ntile(2).over(W.orderBy("ts", "event_id")))
    staged = str(tmp_path / "staged")
    chunks.write.partitionBy("_c").parquet(staged)
    src_dir = tmp_path / "src"
    src_dir.mkdir()

    import glob as _glob
    import shutil as _shutil

    for i in (1, 2):
        for j, f in enumerate(_glob.glob(f"{staged}/_c={i}/*.parquet")):
            _shutil.copy(f, str(src_dir / f"chunk{i}_{j}.parquet"))
    schema = ev.schema
    source = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src_dir))

    out = drain(spark, stream_stream_left_join_plan(spark, SF_SMALL, source), "append").collect()

    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    inner = {
        (r.user_id, r.c_id, r.p_id)
        for r in clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    got_inner = {(r.user_id, r.c_id, r.p_id) for r in out if r.p_id is not None}
    assert got_inner == inner

    import datetime as _dt

    # the query's watermark is the MIN of the two sides' watermarks —
    # each from its OWN stream's max event time, not the whole table's
    max_c = clicks.agg(F.max("c_ts")).first()[0]
    max_p = purchases.agg(F.max("p_ts")).first()[0]
    final_wm = min(max_c, max_p) - _dt.timedelta(hours=2)
    matched_cids = {c for (_, c, _) in inner}
    # 1s guard: the operator truncates watermarks to whole seconds, so
    # a row within the truncation of the boundary may legitimately stay
    evictable_unmatched = {
        r.c_id
        for r in clicks.collect()
        if r.c_id not in matched_cids
        and r.c_ts + _dt.timedelta(hours=1, seconds=1) < final_wm
    }
    got_nulls = {r.c_id for r in out if r.p_id is None}
    # every evictable unmatched click must have flushed with nulls, and
    # no null row may exist for a matched click
    assert evictable_unmatched <= got_nulls
    assert not (got_nulls & matched_cids)
    assert len(out) == len(got_inner) + len(got_nulls)


def test_trigger_available_now_drains_and_stops(spark, tmp_path):
    """Trigger.availableNow: the scheduled-batch-over-stream production
    pattern — the query processes everything present at start in rate-
    limited batches, then STOPS ON ITS OWN (no processAllAvailable
    babysitter), and the result equals the batch rollup. A second run
    with the same checkpoint sees no new data and adds nothing."""
    from ballista_mvp_spark.queries.events import events_hourly

    agg = tumbling_agg(_events_stream(spark, SF_SMALL))
    import uuid as _uuid

    qname = f"avnow_{_uuid.uuid4().hex[:8]}"
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)  # availableNow terminates by itself
        assert not q.isActive

    run_once()
    got = {tuple(r) for r in spark.table(qname).collect()}
    expected = {
        tuple(r)
        for r in events_hourly(spark, SF_SMALL)
        .select("hour", "event_type", "n", "sum_v")
        .collect()
    }
    assert got == expected


_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def test_rocksdb_state_store_matches_default_and_survives_restart(
    spark, tmp_path
):
    """100 TB state backend: the default HDFSBackedStateStoreProvider
    keeps every key in executor heap — at corpus-scale streaming
    (stream dedup state = one key per seen document) that overflows.
    RocksDBStateStoreProvider spills state to local SSD with changelog
    checkpointing, bounded heap. The jar (rocksdbjni) ships with Spark,
    so this is a config-only swap — but it changes the on-disk state
    format, so it must be proven, not assumed:

    1. the same stateful query produces IDENTICAL results under both
       providers, and
    2. a stop/restart from one checkpoint resumes RocksDB state files
       correctly (recovery parity claim as in
       test_checkpoint_restart_resumes_stream_state, reference
       execution_graph.rs:292-411).
    """
    from ballista_mvp_spark.queries.events import events_hourly
    from ballista_mvp_spark.streaming import run_incremental_sink

    from pyspark.sql import Window as W

    prev = spark.conf.get(_PROVIDER_CONF)
    base = {tuple(r) for r in streaming_tumbling(spark, SF_SMALL).collect()}
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        # (1) provider swap is result-invariant
        rocks = {tuple(r) for r in streaming_tumbling(spark, SF_SMALL).collect()}
        assert rocks == base

        # (2) stop/restart across one checkpoint, RocksDB state resumed.
        # NB: the provider must stay pinned across restarts — Spark
        # refuses to reopen a checkpoint under a different provider
        # (state file formats differ), which is exactly why this needs
        # its own restart test rather than reusing the HDFS-backed one.
        ev = load_table(spark, SF_SMALL, "events")
        chunks = ev.withColumn(
            "_c", F.ntile(2).over(W.orderBy("ts", "event_id"))
        )
        staged = str(tmp_path / "staged")
        chunks.write.partitionBy("_c").parquet(staged)
        src_dir = tmp_path / "src"
        src_dir.mkdir()

        import glob as _glob
        import shutil as _shutil

        def add_chunk(i: int) -> None:
            files = _glob.glob(f"{staged}/_c={i}/*.parquet")
            assert files
            for j, f in enumerate(files):
                _shutil.copy(f, str(src_dir / f"chunk{i}_{j}.parquet"))

        schema = ev.schema

        def source():
            return spark.readStream.schema(schema).parquet(str(src_dir))

        out = str(tmp_path / "rollup")
        ckpt = str(tmp_path / "ckpt")
        add_chunk(1)
        run_incremental_sink(spark, SF_SMALL, out, ckpt, source=source())
        assert spark.read.parquet(out).count() > 0
        add_chunk(2)
        run_incremental_sink(spark, SF_SMALL, out, ckpt, source=source())

        expected = {
            tuple(r)
            for r in events_hourly(spark, SF_SMALL)
            .select("hour", "event_type", "n", "sum_v")
            .collect()
        }
        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .select(
                F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type", "n", "sum_v",
            )
            .collect()
        }
        assert got == expected
    finally:
        spark.conf.set(_PROVIDER_CONF, prev)


def test_transform_with_state_totals_match_batch(spark, tmp_path):
    """transformWithStateInPandas (the Spark 4.x arbitrary-state API):
    per-user running totals kept in ValueState across FORCED multiple
    micro-batches must equal the batch groupBy exactly after an
    availableNow drain.

    ENVIRONMENT GATE: the transformWithState Python driver worker
    imports google.protobuf (absent in this container, and package
    installation is forbidden) — verified by the STREAM_FAILED
    ImportError; skips wherever protobuf is missing and runs everywhere
    else. The certified stateful surface in THIS container is the
    applyInPandasWithState sessionizer above."""
    pytest.importorskip("google.protobuf")
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ballista_mvp_spark.streaming import stateful_user_totals_tws
    from ballista_mvp_spark.tables import load_table

    ev = load_table(spark, SF_SMALL, "events").select("user_id", "value", "event_id")
    # stage as 4 files so maxFilesPerTrigger=1 forces 4 micro-batches
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    staged = str(tmp_path / "staged")
    ev.withColumn("_c", F.pmod("event_id", F.lit(4))).write.partitionBy("_c").parquet(staged)
    for i in range(4):
        for j, f in enumerate(_glob.glob(f"{staged}/_c={i}/*.parquet")):
            _shutil.copy(f, str(src_dir / f"c{i}_{j}.parquet"))

    src = spark.readStream.schema("user_id long, value double, event_id long").parquet(
        str(src_dir)
    )
    out = stateful_user_totals_tws(src)
    qname = f"tws_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last emitted row per user = the running total after the final batch
    final = {}
    for r in spark.table(qname).collect():
        final[r.user_id] = (r.n_events, r.value_sum)  # later rows overwrite? no —
    # memory sink in update mode appends; take the max-n row per user
    final = {}
    for r in spark.table(qname).collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.value_sum)
    expected = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("s"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for u, (n, s) in expected.items():
        assert final[u][0] == n, u
        assert abs(final[u][1] - s) < 1e-4, (u, final[u][1], s)
