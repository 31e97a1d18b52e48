"""Streaming-plan hygiene audit (audit S — VERDICT r9 #2).

Streaming micro-batch plans get NO AQE, and under the shipped broadcast
policy (static autoBroadcastJoinThreshold=-1, SCALE.md r9 "Broadcast
policy") join strategy comes from AQE's runtime threshold — which never
runs for a streaming query. An un-hinted stream-static join therefore
plans SortMergeJoin and SHUFFLES THE STREAM on every micro-batch: the
exact regression round 9's reactive db0810e fix closed by hand. This
audit mechanizes that contract: it compiles the ANALYZED logical plan of
every un-started streaming DataFrame the engine ships
(ballista_mvp_spark.streaming.STREAMING_PLAN_BUILDERS — the plans the
streaming_* registry queries drain, so the audited plan IS the executed
plan)
and FAILS on any join with exactly one streaming side whose static side
carries no broadcast hint.

Reference analogue: the reference re-selects the join strategy when a
stage's inputs resolve (execution_stage.rs:246-253); Spark streaming
plans have no such hook, so the explicit pin IS the contract.

Why the ANALYZED plan: Spark refuses to optimize/physical-plan a
streaming DataFrame outside writeStream.start() (AnalysisException), but
queryExecution().analyzed() is available and shows both the streaming
marker (`~`-prefixed operators / StreamingRelation leaves) and the
resolved hint nodes (`ResolvedHint (strategy=broadcast)`).

Stream-STREAM joins (both sides streaming) pass: they are the
state-store interval-join path, bounded by watermarks (asserted in
tests/test_streaming.py), and broadcast is not applicable.

Usage:
    python tools/stream_plan_audit.py [sf_dir]   # default sf0.001
Exit 1 on any finding — exit-code-gated in tools/verify_all.py.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_audit import Node, _subtree, parse_tree  # noqa: E402

# Leaves that mark a subtree as streaming in the analyzed plan.
_STREAM_LEAF_RE = re.compile(
    r"\b(StreamingRelation|StreamingRelationV2|StreamingExecutionRelation|"
    r"StreamingDataSourceV2Relation)\b"
)

# Adjudicated exceptions: builder name -> documented reason why an
# un-pinned stream-static join is acceptable there. EMPTY by design —
# the stream-static contract admits no exception (an unbroadcastable
# dimension must move to foreachBatch or pre-bucketing instead, see
# stream_static_join_plan's docstring); anything added here must name
# the bound, mirroring plan_audit's ADJUDICATED_* dicts.
ADJUDICATED_STREAM_STATIC: dict[str, str] = {}

# Audit S2 adjudications: stateful streaming plans whose state is
# bounded WITHOUT an event-time watermark — each entry must name the
# bound. Anything stateful and un-watermarked not listed here is an
# unbounded-state defect at 100 TB (agg/dedup state grows forever).
ADJUDICATED_UNWATERMARKED: dict[str, str] = {
    "streaming_enrich": (
        "complete-mode rollup keyed on c_mktsegment: state is O(5 "
        "segments) by key domain (TPC-H spec-fixed), and a watermark "
        "would be semantically wrong in complete mode (every window "
        "stays open by definition)"
    ),
    "streaming_sessionize": (
        "applyInPandasWithState keyed on user_id with NoTimeout: state is "
        "ONE fixed-width tuple per active user (O(users), not O(events)) "
        "and every update emits — the test-drainable update-mode shape; "
        "the eviction-driven production twin is streaming_session_close, "
        "which carries the watermark + EventTimeTimeout"
    ),
}

# --- S2 bound ENFORCEMENT (VERDICT r10 #3: the documented→enforced
# upgrade eval_doc_cap got in 159067c) -----------------------------------
# Each adjudicated S2 entry must ALSO pass a mechanical validator — the
# prose names the bound, the validator asserts it against the shipped
# plan (and, for data-domain bounds, the audited dataset). A violated
# bound turns the adjudication back into a flag, so a future edit that
# re-keys the rollup onto an unbounded column or widens the sessionizer
# state with a growing field fails the battery gate instead of hiding
# behind the old prose.

# state-schema types that cannot grow with the event count: one tuple of
# these per key is genuinely O(keys) state
_FIXED_WIDTH_TYPES = {
    "DoubleType", "FloatType", "IntegerType", "LongType", "ShortType",
    "ByteType", "BooleanType", "TimestampType", "DateType",
}


def _enrich_key_domain_bound(spark, sf_dir: str, analyzed: str) -> str | None:
    """streaming_enrich's claimed bound: complete-mode state is O(key
    domain) and the key domain is the 5 TPC-H spec-fixed market
    segments. Asserts (a) the rollup is still keyed on exactly
    c_mktsegment, (b) the audited dataset's actual segment cardinality
    is <= 5."""
    m = re.search(r"Aggregate \[([^\]]*)\]", analyzed)
    if not m:
        return "expected a complete-mode Aggregate in the plan"
    keys = [k.strip().split("#")[0] for k in m.group(1).split(",") if k.strip()]
    if keys != ["c_mktsegment"]:
        return (
            f"rollup grouping key changed to {keys}; the O(5 segments) "
            "bound was argued for [c_mktsegment]"
        )
    n = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select("c_mktsegment").distinct().count()
    )
    if n > 5:
        return (
            f"c_mktsegment key domain is {n} > 5 spec-fixed segments — "
            "complete-mode state is no longer O(5)"
        )
    return None


def _sessionize_state_width_bound(spark, sf_dir: str, analyzed: str) -> str | None:
    """streaming_sessionize's claimed bound: ONE fixed-width tuple per
    active user. Parses the state schema the plan itself declares (the
    StructField list on the FlatMapGroupsInPandasWithState node) and
    asserts every field is a fixed-width atomic type — no array/map/
    string/struct field that could grow with the event count."""
    line = next(
        (
            ln
            for ln in analyzed.splitlines()
            if "FlatMapGroupsInPandasWithState" in ln
        ),
        None,
    )
    if line is None:
        return "expected a FlatMapGroupsInPandasWithState operator"
    fields = re.findall(r"StructField\([^,()]+,([A-Za-z]+Type)", line)
    if not fields:
        return "could not parse the state schema from the plan node"
    bad = sorted({t for t in fields if t not in _FIXED_WIDTH_TYPES})
    if bad:
        return (
            f"state schema contains non-fixed-width field types {bad} — "
            "the O(users) fixed-width-tuple bound no longer holds"
        )
    return None


S2_BOUND_VALIDATORS = {
    "streaming_enrich": _enrich_key_domain_bound,
    "streaming_sessionize": _sessionize_state_width_bound,
}
# every prose adjudication must carry a mechanical validator — adding an
# S2 entry without one is itself a defect
assert set(S2_BOUND_VALIDATORS) == set(ADJUDICATED_UNWATERMARKED)


def _is_streaming_subtree(n: Node) -> bool:
    return any(_STREAM_LEAF_RE.search(m.text) for m in _subtree(n))


def _has_broadcast_hint(n: Node) -> bool:
    """True if the static input carries a resolved broadcast-class hint
    (F.broadcast / SQL BROADCAST-BROADCASTJOIN-MAPJOIN hints all resolve
    to `ResolvedHint (strategy=broadcast)` in the analyzed plan).

    Hints do NOT propagate up across a join boundary (ADVICE r10): the
    scan recurses through hint-transparent operators but stops at nested
    Join nodes, so a hint buried below an intermediate join (static side
    = dim1 JOIN broadcast(dim2)) cannot excuse an un-pinned outer
    stream-static join."""
    if "ResolvedHint" in n.text and "broadcast" in n.text:
        return True
    if re.match(r"Join\b", n.text.lstrip("~")):
        return False
    return any(_has_broadcast_hint(c) for c in n.children)


def stream_static_findings(analyzed_plan: str) -> list[str]:
    """Flag every join node with exactly one streaming input whose
    static side lacks a broadcast hint."""
    findings: list[str] = []
    for n in parse_tree(analyzed_plan):
        head = n.text.lstrip("~")
        if not re.match(r"Join\b", head) or len(n.children) != 2:
            continue
        streaming = [c for c in n.children if _is_streaming_subtree(c)]
        static = [c for c in n.children if not _is_streaming_subtree(c)]
        if len(streaming) == 1 and len(static) == 1:
            if not _has_broadcast_hint(static[0]):
                findings.append(
                    f"stream-static join without broadcast pin: {n.text[:160]}"
                )
    return findings


# Stateful streaming operators: their state-store footprint is bounded
# only if an EventTimeWatermark sits below them (agg windows close,
# dedup keys evict, join state flushes). FlatMapGroupsInPandasWithState
# (applyInPandasWithState) and TransformWithStateInPandas manage their
# own keyed state — still flagged unless watermarked or adjudicated,
# because "bounded" then rests on the operator's own key/timeout design
# and must be argued in ADJUDICATED_UNWATERMARKED.
_STATEFUL_HEAD_RE = re.compile(
    r"^(Aggregate|Deduplicate|DeduplicateWithinWatermark|"
    r"FlatMapGroupsInPandasWithState|TransformWithStateInPandas)\b"
)


def unwatermarked_stateful_findings(analyzed_plan: str) -> list[str]:
    """Audit S2: flag stateful operators over a streaming input with no
    EventTimeWatermark anywhere in their streaming subtree (stream-stream
    joins included)."""
    findings: list[str] = []
    for n in parse_tree(analyzed_plan):
        head = n.text.lstrip("~")
        stateful = bool(_STATEFUL_HEAD_RE.match(head))
        if re.match(r"Join\b", head) and len(n.children) == 2:
            stateful = all(_is_streaming_subtree(c) for c in n.children)
        if not stateful or not _is_streaming_subtree(n):
            continue
        if not any("EventTimeWatermark" in m.text for m in _subtree(n)):
            findings.append(
                f"stateful streaming op without watermark "
                f"(unbounded state): {n.text[:120]}"
            )
    return findings


def audit_stream_plan(df) -> list[str]:
    """Findings for one un-started streaming DataFrame (both classes)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return stream_static_findings(analyzed) + unwatermarked_stateful_findings(
        analyzed
    )


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        # mirror the SHIPPED broadcast policy — under it the explicit pin
        # is the ONLY way a streaming plan broadcasts (no AQE to decide)
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from ballista_mvp_spark.streaming import STREAMING_PLAN_BUILDERS

    flags = 0
    for name, build in STREAMING_PLAN_BUILDERS.items():
        try:
            analyzed = (
                build(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
            )
            findings = stream_static_findings(
                analyzed
            ) + unwatermarked_stateful_findings(analyzed)
        except Exception as e:  # a builder that no longer compiles is a finding
            print(f"[ERR ] {name}: {type(e).__name__}: {str(e)[:140]}")
            flags += 1
            continue
        for f in findings:
            is_s2 = "broadcast pin" not in f
            adj = (
                ADJUDICATED_UNWATERMARKED if is_s2 else ADJUDICATED_STREAM_STATIC
            )
            if name in adj:
                # an S2 adjudication only holds while its mechanical
                # bound validator passes (VERDICT r10 #3)
                err = (
                    S2_BOUND_VALIDATORS[name](spark, sf_dir, analyzed)
                    if is_s2
                    else None
                )
                if err:
                    flags += 1
                    print(f"[FLAG] {name}: adjudicated bound VIOLATED: {err}")
                else:
                    print(f"[ADJ ] {name}: {adj[name]}")
            else:
                flags += 1
                print(f"[FLAG] {name}: {f}")
    print(f"{flags} flagged / {len(STREAMING_PLAN_BUILDERS)} streaming plans")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
