"""Model-based property tests for the streaming STATEFUL paths
(VERDICT r9 #4 — the last stateful family without one): the SCD1
latest-wins sink, the CDC merge sink, and emit-on-close sessionization
are each replayed over RANDOMIZED micro-batch splits of the same event
sequence (hypothesis draws the cut points; one parquet file per chunk +
maxFilesPerTrigger=1 forces the batch boundaries) and compared against
a sequential in-memory model. Any split-invariance violation is a real
bug — the models are pure Python, the same pattern as
tests/test_versioned_model.py and tests/test_ann_index_model.py.

Contracts under test:
- SCD1 (run_scd1_upsert_stream): latest-wins by (ts, event_id) is
  commutative + idempotent, so EVERY split — even one interleaving
  users arbitrarily across batches — must converge to argmax per user.
- CDC (sources/versioned.cdc_merge_sink with seq_col): within a batch
  max-seq wins, across batches the merge replaces — so for any
  CONTIGUOUS IN-ORDER split (a change stream arrives in commit order)
  the table converges to argmax-by-seq per key.
- Session close (sessionize_on_close, 0-second watermark): for any
  contiguous in-time-order split, the emitted set of closed sessions is
  exactly the model's sessionization with a session closed iff
  last_event + gap < global max ts (strict: Spark's event-time timer
  fires when the watermark EXCEEDS the timeout timestamp; the fixture
  makes equality unreachable — all ts even, gap odd).
- Stream-stream interval joins (VERDICT r10 #2): the inner join equals
  the batch join for every in-order split (eager emission + no early
  eviction possible in ts order); the LEFT OUTER join additionally
  emits null-extended rows for exactly the unmatched clicks whose join
  window the final watermark (min of the per-side watermarks) has
  passed, 1s-bracketed for whole-second watermark truncation.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ballista_mvp_spark.sources import versioned as V
from ballista_mvp_spark.streaming import (
    drain,
    run_scd1_upsert_stream,
    sessionize_on_close,
    stateful_sessionize,
)

GAP = 1799  # odd, so last+GAP never equals an (even) event ts
_TS0 = 1_700_000_000  # even epoch seconds
_TYPES = ("click", "purchase", "view")


def _pool() -> list[tuple[int, int, str, float, int]]:
    """24 deterministic events over 3 users: (event_id, user_id, type,
    value, ts_epoch). Every 5th gap is > GAP so each user has several
    sessions; all ts are even (see GAP parity note above)."""
    rows, t = [], _TS0
    for i in range(24):
        t += 3600 if i % 5 == 0 else 60
        rows.append((i, i % 3, _TYPES[i % 3], float(i), t))
    return rows


POOL = _pool()
_CUTS = st.lists(
    st.integers(min_value=1, max_value=len(POOL) - 1),
    unique=True, max_size=4,
).map(sorted)


def _chunks(cuts: list[int], pool: list[tuple] | None = None) -> list[list[tuple]]:
    pool = POOL if pool is None else pool
    edges = [0, *cuts, len(pool)]
    return [pool[a:b] for a, b in zip(edges, edges[1:]) if b > a]


def _write_chunks(spark, src_dir: str, chunks: list[list[tuple]]) -> None:
    """One parquet file per micro-batch, mtimes strictly increasing so
    the file-stream source (which orders by modification time) replays
    them in sequence."""
    os.makedirs(src_dir, exist_ok=True)
    # Capture each chunk's part file by diffing the directory listing per
    # append (ADVICE r10: sorting on pre-existing mtimes can tie on
    # coarse-timestamp filesystems, making the replay order
    # nondeterministic vs chunk order) — the known write order, not
    # mtime, decides the utimes assigned.
    files: list[str] = []
    seen: set[str] = set()
    for chunk in chunks:
        df = spark.createDataFrame(
            [(e, u, ty, v, t) for (e, u, ty, v, t) in chunk],
            "event_id long, user_id long, event_type string, value double, _sec long",
        ).withColumn("ts", F.timestamp_seconds(F.col("_sec"))).drop("_sec")
        df.coalesce(1).write.mode("append").parquet(src_dir)
        new = [
            f for f in os.listdir(src_dir)
            if f.endswith(".parquet") and f not in seen
        ]
        assert len(new) == 1, f"expected 1 new part file, saw {new}"
        files.append(new[0])
        seen.add(new[0])
    for i, f in enumerate(files):
        p = os.path.join(src_dir, f)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))


_SCHEMA = "event_id long, user_id long, event_type string, value double, ts timestamp"


def _file_stream(spark, src_dir: str):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


@given(cuts=_CUTS)
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd1_stream_matches_model_under_any_split(spark, tmp_path_factory, cuts):
    base = str(tmp_path_factory.mktemp("scd1m"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    _write_chunks(spark, src, _chunks(cuts))
    run_scd1_upsert_stream(
        spark, "unused", out, ckpt, source=_file_stream(spark, src)
    )
    # model: argmax per user by (ts, event_id)
    latest: dict[int, tuple] = {}
    for (e, u, ty, v, t) in POOL:
        if u not in latest or (t, e) > (latest[u][4], latest[u][0]):
            latest[u] = (e, u, ty, v, t)
    expected = {(u, r[0], r[2], r[3]) for u, r in latest.items()}
    got = {
        (r["user_id"], r["event_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected, (cuts, got, expected)


@given(cuts=_CUTS)
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cdc_merge_sink_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    base = str(tmp_path_factory.mktemp("cdcm"))
    src, tbl, ckpt = (os.path.join(base, d) for d in ("src", "tbl", "ckpt"))
    _write_chunks(spark, src, _chunks(cuts))
    q = (
        _file_stream(spark, src)
        .select("event_id", "user_id", "event_type", "value")
        .writeStream.foreachBatch(
            V.cdc_merge_sink(tbl, key="user_id", seq_col="event_id")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # model: argmax per user by event_id (the change-stream sequence)
    latest: dict[int, tuple] = {}
    for (e, u, ty, v, _t) in POOL:
        if u not in latest or e > latest[u][0]:
            latest[u] = (e, u, ty, v)
    expected = {(u, r[2], r[3]) for u, r in latest.items()}
    got = {
        (r["user_id"], r["event_type"], r["value"])
        for r in V.read_versioned(spark, tbl).collect()
    }
    assert got == expected, (cuts, got, expected)


def _model_closed_sessions() -> set[tuple[int, float, float, int]]:
    """Sequential sessionization of POOL; a session is CLOSED iff
    last_event + GAP < global max ts (strict — parity makes equality
    unreachable)."""
    max_ts = max(t for *_rest, t in POOL)
    by_user: dict[int, list[tuple[int, int]]] = {}
    for (e, u, _ty, _v, t) in POOL:
        by_user.setdefault(u, []).append((t, e))
    closed = set()
    for u, evs in by_user.items():
        evs.sort()
        sessions: list[list[int]] = []
        for t, _e in evs:
            if sessions and t - sessions[-1][-1] <= GAP:
                sessions[-1].append(t)
            else:
                sessions.append([t])
        for s in sessions:
            if s[-1] + GAP < max_ts:
                closed.add((u, float(s[0]), float(s[-1]), len(s)))
    return closed


@given(cuts=_CUTS)
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_session_close_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    base = str(tmp_path_factory.mktemp("sessm"))
    src = os.path.join(base, "src")
    _write_chunks(spark, src, _chunks(cuts))
    out = sessionize_on_close(
        _file_stream(spark, src).select("user_id", "ts", "event_id"), GAP
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in drain(spark, out, "append").collect()
    }
    assert got == _model_closed_sessions(), (cuts, got)


@given(cuts=_CUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_sink_matches_batch_under_any_split(
    spark, tmp_path_factory, cuts
):
    """The dynamic-partition-overwrite upsert sink (run_incremental_sink)
    converges to the batch tumbling aggregation for EVERY in-order
    micro-batch split — update mode re-emits a (hour, event_type) group
    whenever a batch changes it, and the sink overwrites exactly that
    partition, so the final table is split-invariant."""
    from ballista_mvp_spark.streaming import run_incremental_sink, tumbling_agg

    base = str(tmp_path_factory.mktemp("incm"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    _write_chunks(spark, src, _chunks(cuts))
    run_incremental_sink(
        spark, "unused", out, ckpt, source=_file_stream(spark, src)
    )
    batch_df = spark.read.schema(_SCHEMA).parquet(src)
    expected = {
        (str(r["hour"]), r["event_type"], r["n"], r["sum_v"])
        for r in tumbling_agg(batch_df).collect()
    }
    # partition discovery re-infers the hour directory values as
    # timestamps; str() renders both sides as 'yyyy-MM-dd HH:mm:ss'
    got = {
        (str(r["hour"]), r["event_type"], r["n"], r["sum_v"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected, (cuts, got, expected)


_VOCABS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4,
    "one two three four five six seven eight nine ten " * 4,
    "red orange yellow green blue indigo violet pink brown grey " * 4,
    "north south east west up down left right front back " * 4,
]
# 10 docs, ids = arrival order; texts repeat so clusters are EXACT
# duplicates (identical shingle sets -> identical signatures -> same
# buckets, jaccard 1.0: the LSH gate fires deterministically, no recall
# luck) and inter-cluster jaccard is 0 (disjoint vocabularies)
_DOCS = [(i, _VOCABS[c]) for i, c in enumerate([0, 1, 0, 2, 1, 0, 3, 2, 1, 3])]
_DCUTS = st.lists(
    st.integers(min_value=1, max_value=len(_DOCS) - 1), unique=True, max_size=3
).map(sorted)


@given(cuts=_DCUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_neardedup_ingest_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    """The streaming near-dup ingest gate over ANY in-order micro-batch
    split (one json file + one checkpoint-restarted drain per chunk)
    accepts exactly the model's survivors: min doc_id per duplicate
    cluster — whether the duplicate pair met inside one batch (min-id
    within-batch dedup) or across batches (materialized LSH index
    probe). The index must hold exactly the accepted ids."""
    import json

    from ballista_mvp_spark.streaming import run_neardedup_ingest

    base = str(tmp_path_factory.mktemp("ndm"))
    docs_dir = os.path.join(base, "docs")
    os.makedirs(docs_dir)
    accepted = os.path.join(base, "accepted")
    index = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    edges = [0, *cuts, len(_DOCS)]
    for bi, (a, b) in enumerate(zip(edges, edges[1:])):
        if b <= a:
            continue
        with open(os.path.join(docs_dir, f"b{bi}.json"), "w") as f:
            for (i, text) in _DOCS[a:b]:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        run_neardedup_ingest(spark, docs_dir, accepted, index, ckpt)
    first_per_text: dict[str, int] = {}
    for i, text in _DOCS:
        first_per_text.setdefault(text, i)
    expected = set(first_per_text.values())
    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == expected, (cuts, got, expected)
    idx_ids = {
        r["_id"]
        for r in spark.read.parquet(index).select("_id").distinct().collect()
    }
    assert idx_ids == expected, (cuts, idx_ids)


def test_session_close_cross_batch_regression(spark, tmp_path_factory):
    """Deterministic pin of the round-10 bug (hypothesis found it at
    cuts=[3], but draws are random): a session left OPEN at a batch
    boundary must be emitted when the SAME user's next batch starts a
    new session — the timeout path never fires for users with new data,
    so before the fix this session silently vanished."""
    base = str(tmp_path_factory.mktemp("sessreg"))
    src = os.path.join(base, "src")
    # batch 0: user 7 speaks twice (one session); batch 1: user 7 again,
    # far beyond the gap -> batch 0's session must close in-batch
    b0 = [(0, 7, "click", 0.0, _TS0), (1, 7, "click", 0.0, _TS0 + 60)]
    b1 = [(2, 7, "click", 0.0, _TS0 + 60 + 10 * GAP),
          (3, 7, "click", 0.0, _TS0 + 60 + 20 * GAP)]
    _write_chunks(spark, src, [b0, b1])
    out = sessionize_on_close(
        _file_stream(spark, src).select("user_id", "ts", "event_id"), GAP
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in drain(spark, out, "append").collect()
    }
    # batch-0 session closed by batch 1's first event; batch 1's own
    # first session closed by its second event; the last stays open
    assert got == {
        (7, float(_TS0), float(_TS0 + 60), 2),
        (7, float(_TS0 + 60 + 10 * GAP), float(_TS0 + 60 + 10 * GAP), 1),
    }, got


def test_session_close_real_data_split_invariance(spark, tmp_path_factory):
    """Real-data counterpart of the synthetic split models: the sf0.001
    events table drained as ONE batch and as THREE in-time-order batches
    must emit the identical closed-session set (the round-10 fix is what
    makes this hold — before it, sessions open at a chunk boundary
    vanished when their user spoke again)."""
    from pyspark.sql import Window as W

    from ballista_mvp_spark.tables import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "ts", "event_id")
    )
    base = str(tmp_path_factory.mktemp("sessreal"))
    results = []
    for n_chunks in (1, 3):
        src = os.path.join(base, f"src{n_chunks}")
        os.makedirs(src)
        chunked = ev.withColumn(
            "_c", F.ntile(n_chunks).over(W.orderBy("ts", "event_id"))
        )
        # per-append directory diff, not mtime sort (ADVICE r10: mtimes
        # can tie on coarse-timestamp filesystems)
        files: list[str] = []
        seen: set[str] = set()
        for c in range(1, n_chunks + 1):
            chunked.filter(F.col("_c") == c).drop("_c").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            new = [
                f for f in os.listdir(src)
                if f.endswith(".parquet") and f not in seen
            ]
            assert len(new) == 1, f"expected 1 new part file, saw {new}"
            files.append(new[0])
            seen.add(new[0])
        for i, f in enumerate(files):
            os.utime(os.path.join(src, f), (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, event_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = sessionize_on_close(stream, 1800)
        results.append(
            {
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in drain(spark, out, "append").collect()
            }
        )
    assert results[0] == results[1], (
        len(results[0]), len(results[1]),
        results[0] ^ results[1],
    )
    assert results[0], "real data must close at least one session"


@given(cuts=_DCUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cms_rollup_split_invariant_vs_direct_sketch(
    spark, tmp_path_factory, cuts
):
    """Mergeable-sketch contract under ANY in-order split: the merged
    batch-partial count-min sketches equal the sketch built directly
    over the whole corpus, cell for cell (counter addition is
    associative — the split must be unobservable)."""
    import json

    from ballista_mvp_spark.operators import dedup as D
    from ballista_mvp_spark.operators import sketch as SK
    from ballista_mvp_spark.streaming import read_cms, run_cms_rollup

    base = str(tmp_path_factory.mktemp("cmsm"))
    docs_dir = os.path.join(base, "docs")
    os.makedirs(docs_dir)
    sketch_path = os.path.join(base, "sketch")
    ckpt = os.path.join(base, "ckpt")
    edges = [0, *cuts, len(_DOCS)]
    for bi, (a, b) in enumerate(zip(edges, edges[1:])):
        if b <= a:
            continue
        with open(os.path.join(docs_dir, f"b{bi}.json"), "w") as f:
            for (i, text) in _DOCS[a:b]:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
        run_cms_rollup(spark, docs_dir, sketch_path, ckpt, depth=4, width=256)
    merged = {
        (r["row"], r["col"]): r["cnt"] for r in read_cms(spark, sketch_path).collect()
    }
    all_docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    toks = all_docs.select(F.explode(D.tokens(F.col("text"))).alias("term"))
    direct = {
        (r["row"], r["col"]): r["cnt"]
        for r in SK.cms_build(toks, "term", 4, 256).collect()
    }
    assert merged == direct, (cuts, len(merged), len(direct))


def _model_session_totals() -> dict[int, tuple[int, int, int]]:
    """Sequential per-user (n_sessions, n_events, max_sess_len) over POOL
    — the update-mode sessionizer's final state."""
    by_user: dict[int, list[int]] = {}
    for (_e, u, _ty, _v, t) in POOL:
        by_user.setdefault(u, []).append(t)
    out = {}
    for u, tss in by_user.items():
        tss.sort()
        lens = []
        for i, t in enumerate(tss):
            if i == 0 or t - tss[i - 1] > GAP:
                lens.append(1)
            else:
                lens[-1] += 1
        out[u] = (len(lens), len(tss), max(lens))
    return out


@given(cuts=_CUTS)
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_stateful_sessionize_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    """Update-mode GroupState sessionization: the LAST emitted row per
    user after an in-order split drain equals the sequential model's
    totals, for every split."""
    base = str(tmp_path_factory.mktemp("sessu"))
    src = os.path.join(base, "src")
    _write_chunks(spark, src, _chunks(cuts))
    out = stateful_sessionize(
        _file_stream(spark, src).select("user_id", "ts", "event_id"), GAP
    )
    # update mode emits one row per (user, micro-batch) and n_events
    # strictly grows: the max-n_events row is the user's final state
    got: dict[int, tuple[int, int, int]] = {}
    for r in drain(spark, out, "update").collect():
        cur = (r["n_sessions"], r["n_events"], r["max_sess_len"])
        if r["user_id"] not in got or cur[1] > got[r["user_id"]][1]:
            got[r["user_id"]] = cur
    assert got == _model_session_totals(), (cuts, got)


# --- stream-stream interval joins (VERDICT r10 #2: the last stateful
# streaming family tested only by a fixed 2-way split, not randomized
# micro-batch-cut replay) ------------------------------------------------
#
# POOL is unusable here: its user (i%3) and type (_TYPES[i%3]) are
# perfectly correlated, so click⋈purchase same-user pairs are empty by
# construction. _JPOOL gives every user alternating click/purchase
# blocks with gaps mixing <1h (match) and >1h (no match), plus a late
# click+purchase tail that drags the final per-side watermarks far
# enough to evict SOME unmatched clicks but not others — the left-outer
# null-emission boundary the r10 VERDICT flagged as the place a bug
# would hide.

def _join_pool() -> list[tuple[int, int, str, float, int]]:
    rows, t = [], _TS0
    for i in range(24):
        t += (120, 240, 2400, 120, 5400)[i % 5]  # even seconds, mixed gaps
        ty = "click" if (i // 3) % 2 == 0 else "purchase"
        rows.append((100 + i, i % 3, ty, float(i), t))
    # tail: one unmatched click + one purchase 5h later on a user with no
    # open click window — advances BOTH sides' watermarks ~3h past the
    # body so the body's unmatched clicks become evictable
    rows.append((198, 0, "click", 0.0, t + 3600 * 5))
    rows.append((199, 1, "purchase", 0.0, t + 3600 * 10))
    return rows


_JPOOL = _join_pool()
_JCUTS = st.lists(
    st.integers(min_value=1, max_value=len(_JPOOL) - 1), unique=True, max_size=4
).map(sorted)


def _model_inner_join() -> set[tuple[int, int, int]]:
    """(user_id, c_id, p_id): same user, c_ts <= p_ts <= c_ts + 1h."""
    clicks = [(e, u, t) for (e, u, ty, _v, t) in _JPOOL if ty == "click"]
    purch = [(e, u, t) for (e, u, ty, _v, t) in _JPOOL if ty == "purchase"]
    return {
        (cu, ce, pe)
        for (ce, cu, ct) in clicks
        for (pe, pu, pt) in purch
        if cu == pu and ct <= pt <= ct + 3600
    }


@given(cuts=_JCUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_stream_stream_inner_join_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    """The inner interval join emits EXACTLY the batch join result for
    every in-order micro-batch split: matches emit eagerly, and in-order
    arrival makes early eviction of a still-needed row impossible (a
    matching purchase has p_ts <= c_ts+1h, while the click is evicted
    only once some side's max seen ts exceeds c_ts+3h — which, in ts
    order, is after every matching purchase arrived)."""
    from ballista_mvp_spark.streaming import stream_stream_join_plan

    base = str(tmp_path_factory.mktemp("ssjm"))
    src = os.path.join(base, "src")
    _write_chunks(spark, src, _chunks(cuts, _JPOOL))
    j = stream_stream_join_plan(spark, "unused", source=_file_stream(spark, src))
    got = {
        (r["user_id"], r["c_id"], r["p_id"])
        for r in drain(spark, j, "append").collect()
    }
    assert got == _model_inner_join(), (cuts, got)


@given(cuts=_JCUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_stream_stream_left_join_matches_model_under_in_order_splits(
    spark, tmp_path_factory, cuts
):
    """LEFT OUTER interval join split-invariance: for every in-order
    split, (a) the matched rows equal the batch inner join, (b) a
    null-extended row exists for EVERY unmatched click whose join window
    the final watermark (min of the two sides' per-stream watermarks,
    each max-own-ts - 2h) has provably passed, (c) no null row exists
    for a matched click or a click the watermark cannot yet have passed.
    The 1s brackets absorb Spark's whole-second watermark truncation
    (same guard as tests/test_streaming.py's fixed-split test)."""
    from ballista_mvp_spark.streaming import stream_stream_left_join_plan

    base = str(tmp_path_factory.mktemp("ssljm"))
    src = os.path.join(base, "src")
    _write_chunks(spark, src, _chunks(cuts, _JPOOL))
    j = stream_stream_left_join_plan(spark, "unused", source=_file_stream(spark, src))
    out = drain(spark, j, "append").collect()

    inner = _model_inner_join()
    got_inner = {
        (r["user_id"], r["c_id"], r["p_id"]) for r in out if r["p_id"] is not None
    }
    assert got_inner == inner, (cuts, got_inner)

    max_c = max(t for (_e, _u, ty, _v, t) in _JPOOL if ty == "click")
    max_p = max(t for (_e, _u, ty, _v, t) in _JPOOL if ty == "purchase")
    final_wm = min(max_c, max_p) - 7200
    matched = {c for (_u, c, _p) in inner}
    unmatched = {
        (e, t) for (e, _u, ty, _v, t) in _JPOOL if ty == "click" and e not in matched
    }
    must_null = {e for (e, t) in unmatched if t + 3601 < final_wm}
    may_null = {e for (e, t) in unmatched if t + 3599 < final_wm}
    got_nulls = {r["c_id"] for r in out if r["p_id"] is None}
    assert must_null <= got_nulls <= may_null, (
        cuts, sorted(must_null), sorted(got_nulls), sorted(may_null)
    )
    assert len(out) == len(got_inner) + len(got_nulls), cuts


@given(cuts=_CUTS)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sliding_agg_matches_batch_under_any_split(
    spark, tmp_path_factory, cuts
):
    """Complete-mode sliding-window aggregation (1h windows every 15min —
    each event lands in 4 overlapping windows) converges to the batch
    sliding aggregation for EVERY in-order micro-batch split: counter
    addition is associative per (window, type) group and complete mode
    re-emits every group, so the cut points must be unobservable. The
    one windowed-agg shape the incremental-sink model (tumbling) doesn't
    replay."""
    from ballista_mvp_spark.streaming import sliding_agg

    base = str(tmp_path_factory.mktemp("slidem"))
    src = os.path.join(base, "src")
    _write_chunks(spark, src, _chunks(cuts))
    agg = sliding_agg(_file_stream(spark, src))
    got = {
        (r["w_start"], r["event_type"], r["n"])
        for r in drain(spark, agg, "complete").collect()
    }
    batch = spark.read.schema(_SCHEMA).parquet(src)
    expected = {
        (r["w_start"], r["event_type"], r["n"])
        for r in sliding_agg(batch).collect()
    }
    assert got == expected, (cuts, got ^ expected)
