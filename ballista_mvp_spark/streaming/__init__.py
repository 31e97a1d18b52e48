"""Structured Streaming operators (extension surface — the reference has
no streaming constructs at all, SURVEY.md §2.10/§1.1; this is the
BASELINE.json north-star streaming path).

Patterns covered:
- event-time window aggregation (tumbling and sliding) with a watermark,
  stream dedup, stream-static and stream-stream joins, and stateful
  sessionization; each is an un-started plan in STREAMING_PLAN_BUILDERS
  that the registry runs over the events parquet through ``drain`` for
  synchronous certification against the batch oracle (the same plan
  runs unchanged on kafka/socket sources in production);
- foreachBatch sinks (partition-overwrite upsert, SCD1 merge, near-dup
  ingest, sketch rollup), each run to completion through
  ``drain_batches``.

Scale notes: streaming state is (window, key)-partitioned by Spark's
state store; watermark bounds state size. The memory sink behind
``drain`` is for deterministic drains only — production sinks are
foreachBatch/parquet/kafka.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import events_frame, file_schema

TS_FMT = "yyyy-MM-dd HH:mm:ss"
_WINDOW = "1 hour"
_SLIDE = "15 minutes"
_WATERMARK = "2 hours"
_SESSION_SCHEMA = "user_id long, n_sessions int, n_events int, max_sess_len int"


def drain(spark: SparkSession, plan: DataFrame, mode: str) -> DataFrame:
    """Run the streaming ``plan`` over everything its source holds now and
    return what it wrote, as a batch DataFrame.

    The plan runs into a uniquely named memory sink in output ``mode``,
    with ``_state_partitions``. Whatever happens, the query is stopped
    and the sink's temp view dropped, so the session keeps no state from
    the drain: the returned frame holds the sink through its analyzed
    plan and stays usable after the drop, and the rows go when it does."""
    name = f"drain_{uuid.uuid4().hex}"
    with _state_partitions(spark):
        q = plan.writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            out = spark.table(name)
            spark.catalog.dropTempView(name)
    return out


def drain_batches(stream: DataFrame, fn, checkpoint_path: str, mode: str = "append") -> None:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``
    until everything its source holds now is processed, then stop the
    query (also on failure). The query starts with ``_state_partitions``.
    Restarting with the same ``checkpoint_path`` resumes offsets and
    state (and the partition count the checkpoint recorded), so a second
    call processes only what arrived since the first."""
    with _state_partitions(stream.sparkSession):
        q = (
            stream.writeStream.outputMode(mode)
            .option("checkpointLocation", checkpoint_path)
            .foreachBatch(fn)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


@contextmanager
def _state_partitions(spark: SparkSession):
    """Start a streaming query with ``spark.sql.shuffle.partitions`` at
    ``defaultParallelism``, then restore the session's value. A stateful
    query fixes its state-store partition count from that conf when it
    starts, and runs one state-store task per partition in every
    micro-batch: at Spark's default of 200 on a few cores, those tasks
    dominate each batch."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Event-time tumbling-window rollup (1 h windows, 2 h watermark on a
    stream) — works on both batch and streaming DataFrames (identical
    plan declaration)."""
    src = events.withWatermark("ts", _WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", _WINDOW), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_v"))
        .select(
            F.date_format(F.col("window.start"), TS_FMT).alias("hour"),
            "event_type",
            "n",
            "sum_v",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding-window rollup: 1 h windows every 15 min, so each event
    lands in 4 overlapping windows (Spark expands via the same window()
    expression) — the one streaming window shape tumbling and session
    windows don't exercise."""
    src = events.withWatermark("ts", _WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", _WINDOW, _SLIDE), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), TS_FMT).alias("w_start"),
            "event_type",
            "n",
        )
    )


def stateful_sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    applyInPandasWithState (GroupState keeps [last_ts, n_sessions,
    n_events, max_len, cur_len] between micro-batches; ProcessingTime
    timeout unused here — state is emitted on every update for
    test-drainability).

    Update mode emits one row per user for each micro-batch the user
    appears in, and n_events strictly grows, so a user's final state is
    the row with the largest n_events. Batch-vs-stream contract: that
    final row per user equals the events_sessionize batch results —
    asserted in tests/test_streaming.py. At scale, state is partitioned
    by user_id in the state store; memory is O(active users), not
    O(events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, n_sessions, n_events, max_len, cur_len = state.get
        else:
            last_ts, n_sessions, n_events, max_len, cur_len = None, 0, 0, 0, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            # vectorized session walk: gap test via shift, session ids via
            # cumsum, per-session lengths via groupby — no Python per-row loop
            ts = pdf["ts"].astype("datetime64[ns]").astype("int64") / 1e9  # epoch s
            prev = ts.shift(1)
            if last_ts is not None:
                prev.iloc[0] = last_ts
            new_session = prev.isna() | ((ts - prev) > gap_seconds)
            sid = new_session.cumsum()  # 0 ⇒ continues the carried session
            lengths = ts.groupby(sid).size()
            if not new_session.iloc[0]:
                lengths.iloc[0] += cur_len  # first run extends the open session
            n_sessions += int(new_session.sum())
            n_events += len(pdf)
            max_len = max(max_len, int(lengths.max()))
            cur_len = int(lengths.iloc[-1])
            last_ts = float(ts.iloc[-1])
        state.update((last_ts, n_sessions, n_events, max_len, cur_len))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
                "max_sess_len": [max_len],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType="last_ts double, n_sessions int, n_events int, max_len int, cur_len int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — Spark
    4.x's successor to applyInPandasWithState (arbitrary named state
    objects on a StatefulProcessor handle instead of one GroupState
    tuple; timers and TTL live on the same handle). Keeps ValueState
    (n_events, value_sum) per user across micro-batches and emits the
    running totals on every update.

    Batch-vs-stream contract: after an availableNow drain the final row
    per user equals the batch groupBy (count, sum) exactly — asserted in
    tests/test_streaming.py across multiple forced micro-batches. State
    is keyed by user_id in the state store; memory is O(active users).

    NOTE: the transformWithState Python driver worker imports
    google.protobuf — absent in the build container (installation
    forbidden), so the batch-equality test is importorskip-gated there;
    the operator runs anywhere protobuf is present. Requires the
    RocksDB state store provider.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, value_sum double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                tuple(self._state.get()) if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_sum": [round(total, 6)],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Totals(),
            outputStructType="user_id long, n_events long, value_sum double",
            outputMode="Update",
            timeMode="None",
        )
    )


def sessionize_on_close(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Event-time-timeout sessionization: emits one row PER SESSION, when
    the session closes — either because a later event for the same user
    exceeded the inactivity gap (in-batch closure) or because the
    watermark passed last_event + gap with no activity
    (GroupStateTimeout.EventTimeTimeout → Spark schedules a no-data
    micro-batch and hands the timed-out group back to the function).

    This is the production shape for session analytics: downstream gets
    finalized sessions exactly once, and state is strictly bounded — one
    open session per active user, reclaimed on timeout. Timestamps are
    carried as double epoch seconds (timezone-proof across the Arrow
    boundary).

    Drained over a finite input, the 0-second watermark sits at max(ts)
    after the data batch, so the trailing no-data batch times out every
    open session whose last event is at least ``gap_seconds`` before the
    end; sessions still inside the gap stay open and are not emitted
    (asserted against a batch recomputation in tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        closed: list[tuple[float, float, int]] = []
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((start, last, n))
            state.remove()
        else:
            if state.exists:
                start, last, n = state.get
            else:
                start, last, n = None, None, 0
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values(["ts", "event_id"])
                # vectorized: gap test via shift, session ids via cumsum,
                # (start, end, count) per session via groupby aggregates
                ts = pdf["ts"].astype("datetime64[ns]").astype("int64") / 1e9
                prev = ts.shift(1)
                if last is not None:
                    prev.iloc[0] = last
                new_session = prev.isna() | ((ts - prev) > gap_seconds)
                if last is not None and new_session.iloc[0]:
                    # the chunk's first event proves the CARRIED session
                    # closed (gap exceeded): emit it here — the timeout
                    # path only fires for users with NO new data
                    closed.append((start, last, n))
                sid = new_session.cumsum()  # 0 ⇒ continues the carried session
                g = ts.groupby(sid)
                starts = g.first()
                ends = g.last()
                counts = g.size()
                if not new_session.iloc[0]:  # first run extends the open session
                    starts.iloc[0] = start
                    counts.iloc[0] += n
                # every session but the last closed inside this chunk
                for i in range(len(counts) - 1):
                    closed.append(
                        (float(starts.iloc[i]), float(ends.iloc[i]), int(counts.iloc[i]))
                    )
                start = float(starts.iloc[-1])
                last = float(ends.iloc[-1])
                n = int(counts.iloc[-1])
            state.update((start, last, n))
            # close the open session when the event-time watermark passes
            # last + gap (milliseconds epoch)
            state.setTimeoutTimestamp(int((last + gap_seconds) * 1000))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [c[0] for c in closed],
                "session_end": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )

    return events.withWatermark("ts", "0 seconds").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_start double, session_end double, n_events int",
        stateStructType="start double, last double, n int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first event per (user, event_type, hour)
    via dropDuplicates, with a watermark bounding the dedup state (keys
    older than the watermark are evicted — without it, stream-dedup
    state grows forever).

    Which PHYSICAL row survives per key depends on arrival order (non-
    deterministic across partitioned replay), so the plan keeps only the
    KEY SET — exactly `SELECT DISTINCT user_id, event_type, hour` in the
    batch oracle, while the execution path is the streaming state
    store. Drain in append mode."""
    src = _events_stream(spark, sf_dir)
    return (
        src.withWatermark("ts", _WATERMARK)
        .withColumn("hour", F.date_format(F.date_trunc("hour", "ts"), TS_FMT))
        .dropDuplicates(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", "hour")
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet with ts normalized to LTZ."""

    def read() -> DataFrame:
        return (
            spark.readStream.schema(file_schema(spark, sf_dir, "events"))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    return events_frame(spark, read)


def run_incremental_sink(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint_path: str,
    source: DataFrame | None = None,
) -> None:
    """Production sink shape: stream → windowed agg → foreachBatch upsert
    into a partitioned parquet table via DYNAMIC partition overwrite —
    each micro-batch rewrites only the hour partitions it touched, so a
    replayed batch (post-failure restart from the checkpoint) lands
    idempotently instead of appending duplicates. This is the
    exactly-once-per-partition materialization pattern for lakehouse
    tables without a transaction log; with Delta/Iceberg the same
    foreachBatch body becomes a MERGE.

    State discipline: update-mode agg + watermark bounds state to open
    windows; the sink cost per batch is O(touched partitions), not
    O(table).

    `source` overrides the default events stream (used by the
    checkpoint-restart test to feed a growing file directory); restarting
    with the SAME checkpoint_path resumes offsets, watermark, and agg
    state from the state store — Spark's recovery story, the parity claim
    for the reference's executor-failure ⇒ stage-retry semantics
    (execution_graph.rs:292-411)."""
    agg = tumbling_agg(source if source is not None else _events_stream(spark, sf_dir))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # partition on the FULL agg key (hour, event_type): update mode
        # emits only the groups a batch changed, so partitioning on hour
        # alone would dynamically overwrite a whole hour directory with
        # one event_type's row and silently drop the hour's other types
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hour", "event_type")
            .parquet(out_path)
        )

    drain_batches(agg, upsert, checkpoint_path, "update")


def scd1_stream_plan(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Un-started streaming side of the SCD1 upsert (the keyed merge
    happens in foreachBatch, where AQE applies — see run_scd1_upsert_stream).
    ``source`` overrides the default events stream."""
    ev = source if source is not None else _events_stream(spark, sf_dir)
    return ev.select("user_id", "ts", "event_id", "event_type", "value")


def run_scd1_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint_path: str,
    source: DataFrame | None = None,
) -> None:
    """Keyed SCD1 (latest-row-wins) streaming materialization: each
    micro-batch collapses to one row per user (max event time,
    event_id tie-break) and merges into a keyed parquet current-state
    table. The merge is LATEST-WINS — target ∪ batch, keep the newest
    row per key — not blind replacement: checkpoint recovery replays
    the in-flight batch at-least-once, and a replayed OLDER batch must
    not clobber newer state. Latest-wins is commutative and idempotent,
    so any replay interleaving converges to the same table — the
    exactly-once-per-key materialization claim, proven by the restart
    test. Per-batch cost: one window over the batch + one
    target-sized merge (with a partition_col this becomes the
    touched-partition discipline of sources.merge_upsert)."""
    from pyspark.sql import Window as W

    slim = scd1_stream_plan(spark, sf_dir, source)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        if os.path.exists(out_path):
            latest = spark.read.parquet(out_path).unionByName(latest)
            latest = (
                latest.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") == 1)
                .drop("_r")
            )
        merged = latest.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(out_path)

    drain_batches(slim, upsert, checkpoint_path)


def stream_static_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    dimension (customer), EXPLICITLY broadcast, so the stream side never
    shuffles for the join; rolled up by segment for a complete-mode
    drain.

    The pin is the stream-static contract, not an optimization:
    streaming plans get no AQE, and under the shipped broadcast policy
    (static threshold off — SCALE.md "Broadcast policy") an un-hinted
    stream-static join would plan SortMergeJoin and shuffle every
    micro-batch of the stream; tools/stream_plan_audit.py flags any
    stream-static join without it. The enrichment dimension must
    therefore fit in executor memory BY CONTRACT; for a dimension too
    large to broadcast, enrich in foreachBatch (where AQE applies) or
    pre-bucket both sides."""
    src = _events_stream(spark, sf_dir)
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_mktsegment"
    )
    return (
        src.join(F.broadcast(cust), src["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_v"))
    )


def stream_stream_join_plan(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Stream-stream interval self-join: click followed by a purchase by
    the same user within 1 hour. Both sides carry watermarks and the join
    condition bounds event-time distance, so join state is evicted once
    the watermark passes c_ts + 1h — bounded state, the stream-stream
    contract. Inner-join matches emit as soon as both sides arrive (no
    watermark hold on output); drain in append mode. ``source``
    overrides the default events stream."""
    return _click_purchase_join(spark, sf_dir, source, "inner", "user_id", "c_id", "p_id")


def stream_stream_left_join_plan(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, with its
    within-1h purchase when one exists — and a NULL-extended row when
    the watermark has PROVEN none can arrive. Outer results cannot emit
    eagerly: an unmatched left row waits in state until the watermark
    passes its join window's upper bound (c_ts + 1h), then flushes with
    nulls (Spark's no-data micro-batches drive the final evictions).
    Rows younger than the final watermark stay in state forever on a
    finite input; on an unbounded stream the watermark keeps advancing
    and every click eventually resolves. Same bounded-state contract as
    the inner join; drain in append mode."""
    return _click_purchase_join(spark, sf_dir, source, "left_outer", "user_id", "c_id", "c_ts", "p_id")


def _click_purchase_join(spark, sf_dir, source, how: str, *cols: str) -> DataFrame:
    src = source if source is not None else _events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", _WATERMARK)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", _WATERMARK)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(*cols)


def _docs_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming source over the JSON documents (doc_id, text) in docs_dir."""
    return spark.readStream.schema("doc_id long, text string").json(docs_dir)


def run_neardedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    accepted_path: str,
    index_path: str,
    checkpoint_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> None:
    """Streaming corpus ingestion with a NEAR-dup gate — the end-to-end
    shape of a long-lived training-data pipeline: documents arrive as
    files, each micro-batch is (1) near-deduped WITHIN the batch
    (min-id survives), (2) probed against the MATERIALIZED corpus LSH
    index (per-batch cost independent of corpus size — the index stores
    16-byte band rows + hashed shingle sets, never text), and (3)
    survivors land in the accepted table while their band/shingle rows
    extend the index.

    Exactly-once: both sinks partition by the deterministic `_batch` id
    and write with DYNAMIC partition overwrite, so a replayed batch
    (restart from checkpoint) overwrites its own partition instead of
    appending duplicates — the same idempotency discipline as
    run_incremental_sink.
    """
    from ..operators import dedup as D

    def _shingle_bands(df: DataFrame):
        hs = D.hashed_shingle_sets(df, "doc_id", "text", shingle_k).persist()
        return hs, D.minhash_bands(hs, num_hashes, bands)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(["doc_id"])
        if not batch.take(1):
            return
        # (1) within-batch near-dup: larger id of every verified pair drops
        dup_b = (
            D.minhash_lsh_pairs(
                batch, "doc_id", "text", num_hashes, bands,
                shingle_k, jaccard_threshold,
            )
            .select(F.col("b").alias("doc_id"))
            .distinct()
        )
        batch = batch.join(dup_b, "doc_id", "left_anti")
        hs, bands_df = _shingle_bands(batch)
        # (2) probe the materialized corpus index (absent on first batch)
        if os.path.isdir(index_path) and any(
            n.startswith("_batch=") for n in os.listdir(index_path)
        ):
            idx = spark.read.parquet(index_path)
            cand = (
                bands_df.withColumnRenamed("_id", "batch_id")
                .join(
                    idx.select(F.col("_id").alias("corpus_id"), "band", "bh"),
                    ["band", "bh"],
                )
                .select("batch_id", "corpus_id")
                .distinct()
            )
            verified = (
                cand.join(
                    hs.select(F.col("_id").alias("batch_id"), F.col("_hs").alias("sh_b")),
                    "batch_id",
                )
                .join(
                    idx.filter(F.col("band") == 0)
                    .select(F.col("_id").alias("corpus_id"), F.col("_hs").alias("sh_c")),
                    "corpus_id",
                )
            )
            jac = F.size(F.array_intersect("sh_b", "sh_c")) / F.size(
                F.array_union("sh_b", "sh_c")
            )
            flagged = (
                verified.filter(jac >= jaccard_threshold)
                .select(F.col("batch_id").alias("doc_id"))
                .distinct()
            )
            batch = batch.join(flagged, "doc_id", "left_anti")
            hs.unpersist()  # superseded by the post-filter recompute
            hs, bands_df = _shingle_bands(batch)
        # (3) idempotent writes: partition by the deterministic batch id
        (
            batch.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(accepted_path)
        )
        # shingle sets ride only on band-0 rows — the index stores each
        # doc's set once, not once per band
        (
            bands_df.join(hs, "_id")
            .select(
                "_id",
                "band",
                "bh",
                F.when(F.col("band") == 0, F.col("_hs")).alias("_hs"),
            )
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(index_path)
        )
        # a long-lived query would otherwise pin every batch's shingle
        # cache in executor storage forever
        hs.unpersist()

    drain_batches(_docs_stream(spark, docs_dir), ingest, checkpoint_path)


def run_cms_rollup(
    spark: SparkSession,
    docs_dir: str,
    sketch_path: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 8192,
) -> None:
    """Incremental term-frequency sketching: each micro-batch of
    documents writes its own PARTIAL count-min sketch (operators/
    sketch.cms_build over the batch's tokens) into a batch-partitioned
    table; readers merge partials by counter addition (read_cms).

    This is the mergeable-sketch rollup discipline end-to-end: per-batch
    state is ≤ d·w rows no matter how much text arrived, no batch ever
    re-reads the corpus, and replayed batches (checkpoint restart)
    OVERWRITE their own partition — idempotent by construction, the same
    dynamic-partition trick as run_incremental_sink."""
    from ..operators import dedup as D
    from ..operators import sketch as SK


    def roll(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(F.explode(D.tokens(F.col("text"))).alias("term"))
        (
            SK.cms_build(toks, "term", depth, width)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sketch_path)
        )

    drain_batches(_docs_stream(spark, docs_dir), roll, checkpoint_path)


def read_cms(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge the batch-partial sketches into the current corpus sketch
    (counter addition — associative, so any subset of partials is also a
    valid sketch)."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Streaming-plan hygiene registry
#
# Streaming micro-batch plans get NO AQE, so every stream-static join MUST
# carry an explicit F.broadcast pin on its static side — under the shipped
# broadcast policy (static autoBroadcastJoinThreshold=-1, SCALE.md
# "Broadcast policy") an un-hinted stream-static join plans SortMergeJoin
# and shuffles the stream on every micro-batch. The pin IS the contract
# (the reference re-selects join strategy at stage-resolution time,
# execution_stage.rs:246-253 — streaming plans have no such hook).
#
# Every entry returns an UN-STARTED streaming DataFrame. The streaming_*
# registry queries (queries/events.py) drain exactly
# STREAMING_PLAN_BUILDERS[name], and run_scd1_upsert_stream hands
# scd1_stream_plan to drain_batches, so the audited plan is the executed
# plan. tools/stream_plan_audit.py compiles each analyzed plan and FAILS
# on any stream-static join without a broadcast hint;
# tests/test_stream_plan_audit.py runs the same sweep in the battery.
#
# Exclusions (documented, not audited): run_incremental_sink reuses the
# streaming_tumbling plan verbatim; run_neardedup_ingest / run_cms_rollup /
# streaming_cdc_upsert hand a BARE SCAN to writeStream (joins happen inside
# foreachBatch, where each batch runs as a regular batch query with AQE);
# stateful_user_totals_tws needs google.protobuf (env-gated).
STREAMING_PLAN_BUILDERS = {
    "streaming_tumbling": lambda spark, sf_dir: tumbling_agg(
        _events_stream(spark, sf_dir)
    ),
    "streaming_sliding": lambda spark, sf_dir: sliding_agg(
        _events_stream(spark, sf_dir)
    ),
    "streaming_dedup": stream_dedup_plan,
    "streaming_enrich": stream_static_join_plan,
    "streaming_join": stream_stream_join_plan,
    "streaming_left_join": stream_stream_left_join_plan,
    "streaming_sessionize": lambda spark, sf_dir: stateful_sessionize(
        _events_stream(spark, sf_dir).select("user_id", "ts", "event_id")
    ),
    "streaming_session_close": lambda spark, sf_dir: sessionize_on_close(
        _events_stream(spark, sf_dir).select("user_id", "ts", "event_id")
    ),
    "streaming_scd1_upsert": scd1_stream_plan,
}
