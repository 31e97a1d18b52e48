"""Tests for the streaming-plan hygiene audit (tools/stream_plan_audit.py).

The audit mechanizes the stream-static contract round 9 had to enforce
by hand (the db0810e fix): streaming micro-batch plans get no AQE, so
under the shipped broadcast policy (static threshold off) any
stream-static join without an explicit broadcast pin SortMergeJoins —
shuffling the stream every micro-batch. The sweep here compiles the SAME
un-started plans the registry drains (STREAMING_PLAN_BUILDERS) and must
stay at zero findings; the negative controls prove the auditor actually
fires when the pin is removed.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from stream_plan_audit import (  # noqa: E402
    ADJUDICATED_STREAM_STATIC,
    ADJUDICATED_UNWATERMARKED,
    audit_stream_plan,
    stream_static_findings,
    unwatermarked_stateful_findings,
)

from ballista_mvp_spark.streaming import (  # noqa: E402
    STREAMING_PLAN_BUILDERS,
    _events_stream,
)

from .conftest import SF_SMALL


def _dim(spark):
    return (
        spark.read.parquet(os.path.join(SF_SMALL, "customer.parquet"))
        .select("c_custkey", "c_mktsegment")
    )


def test_unpinned_stream_static_join_flags(spark):
    """Negative control: the exact shape db0810e fixed — an un-hinted
    stream-static join — must be flagged. Removing the F.broadcast pin
    from stream_static_join_plan reproduces this shape, so this test is
    the proof the sweep would catch that regression."""
    src = _events_stream(spark, SF_SMALL)
    j = src.join(_dim(spark), src["user_id"] == F.col("c_custkey"))
    findings = audit_stream_plan(j)
    assert len(findings) == 1 and "without broadcast pin" in findings[0]


def test_pinned_stream_static_join_passes(spark):
    src = _events_stream(spark, SF_SMALL)
    j = src.join(F.broadcast(_dim(spark)), src["user_id"] == F.col("c_custkey"))
    assert audit_stream_plan(j) == []


def test_sql_hint_counts_as_pin(spark):
    """A SQL BROADCAST hint resolves to the same ResolvedHint node —
    either pin spelling satisfies the contract."""
    src = _events_stream(spark, SF_SMALL)
    j = src.join(_dim(spark).hint("broadcast"), src["user_id"] == F.col("c_custkey"))
    assert audit_stream_plan(j) == []


def test_stream_stream_join_not_flagged(spark):
    """Both sides streaming = the watermark-bounded state-store join;
    broadcast does not apply and the auditor must stay quiet."""
    findings = audit_stream_plan(
        STREAMING_PLAN_BUILDERS["streaming_join"](spark, SF_SMALL)
    )
    assert findings == []


def test_pin_position_matters(spark):
    """A broadcast hint on the STREAM side must not excuse an un-hinted
    static side (the hint check is per-subtree, not per-plan)."""
    src = _events_stream(spark, SF_SMALL)
    j = F.broadcast(src).join(_dim(spark), src["user_id"] == F.col("c_custkey"))
    findings = audit_stream_plan(j)
    assert len(findings) == 1 and "without broadcast pin" in findings[0]


@pytest.mark.parametrize("name", sorted(STREAMING_PLAN_BUILDERS))
def test_shipped_streaming_plans_clean(spark, name):
    """The battery gate: every shipped streaming plan compiles and has
    zero un-adjudicated stream-static findings. This parametrized sweep
    plus the exit-code gate in tools/verify_all.py is VERDICT r9 #2's
    'audit exit-code-gated' requirement."""
    findings = [
        f
        for f in audit_stream_plan(STREAMING_PLAN_BUILDERS[name](spark, SF_SMALL))
        if name not in (
            ADJUDICATED_STREAM_STATIC
            if "broadcast pin" in f
            else ADJUDICATED_UNWATERMARKED
        )
    ]
    assert findings == [], findings


def test_streaming_registry_covered_by_builders():
    """Every streaming_* registry query's micro-batch plan is under the
    audit sweep, except streaming_cdc_upsert — whose streaming side is a
    bare scan into foreachBatch, where each batch runs as a regular
    batch query with AQE (the documented exclusion in the
    STREAMING_PLAN_BUILDERS comment)."""
    from ballista_mvp_spark.queries import ALL_QUERIES

    streaming_regs = {n for n in ALL_QUERIES if n.startswith("streaming_")}
    uncovered = streaming_regs - set(STREAMING_PLAN_BUILDERS)
    assert uncovered == {"streaming_cdc_upsert"}, uncovered


def test_adjudication_dict_empty_by_design():
    """The stream-static contract admits no exception today; an entry
    appearing here must come with a documented bound (mirrors the
    plan_audit ADJUDICATED_* discipline)."""
    assert ADJUDICATED_STREAM_STATIC == {}


def test_unwatermarked_stateful_agg_flags(spark):
    """Audit S2 negative control: a streaming aggregate with NO
    watermark is unbounded state and must flag; adding the watermark
    clears it."""
    src = _events_stream(spark, SF_SMALL)
    bad = src.groupBy("event_type").count()
    plan = bad._jdf.queryExecution().analyzed().toString()
    findings = unwatermarked_stateful_findings(plan)
    assert len(findings) == 1 and "unbounded state" in findings[0]
    good = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    assert unwatermarked_stateful_findings(
        good._jdf.queryExecution().analyzed().toString()
    ) == []


def test_unwatermarked_stream_dedup_flags(spark):
    src = _events_stream(spark, SF_SMALL)
    bad = src.dropDuplicates(["event_id"])
    findings = unwatermarked_stateful_findings(
        bad._jdf.queryExecution().analyzed().toString()
    )
    assert len(findings) == 1 and "unbounded state" in findings[0]


def test_s2_adjudications_name_their_bounds():
    """Every un-watermarked adjudication must argue a state bound (the
    plan_audit discipline: the dict entry IS the documentation)."""
    for name, reason in ADJUDICATED_UNWATERMARKED.items():
        assert "state is" in reason and "O(" in reason, (name, reason)


def test_findings_parser_on_synthetic_plan():
    """Pure-text unit check (no session): one streaming side + one
    static side with no hint ⇒ exactly one finding; adding the hint
    line clears it."""
    unpinned = """~Aggregate [seg#1], [seg#1, count(1) AS n#2L]
+- ~Join Inner, (user_id#3L = c_custkey#4L)
   :- ~StreamingRelation DataSource(parquet), FileSource[/x], [user_id#3L]
   +- Project [c_custkey#4L, seg#1]
      +- Relation [c_custkey#4L,seg#1] parquet"""
    assert len(stream_static_findings(unpinned)) == 1
    pinned = """~Aggregate [seg#1], [seg#1, count(1) AS n#2L]
+- ~Join Inner, (user_id#3L = c_custkey#4L)
   :- ~StreamingRelation DataSource(parquet), FileSource[/x], [user_id#3L]
   +- ResolvedHint (strategy=broadcast)
      +- Project [c_custkey#4L, seg#1]
         +- Relation [c_custkey#4L,seg#1] parquet"""
    assert stream_static_findings(pinned) == []


# --- S2 bound enforcement (VERDICT r10 #3: documented -> enforced) ------


def test_s2_adjudications_have_validators():
    """Every prose S2 adjudication must carry a mechanical bound
    validator — the module-level assert enforces it at import, this pins
    it in the battery."""
    from stream_plan_audit import S2_BOUND_VALIDATORS

    assert set(S2_BOUND_VALIDATORS) == set(ADJUDICATED_UNWATERMARKED)


def test_shipped_s2_bounds_hold(spark):
    """Positive control: both shipped adjudicated plans pass their bound
    validators against the audited dataset."""
    from stream_plan_audit import S2_BOUND_VALIDATORS

    for name, validate in S2_BOUND_VALIDATORS.items():
        analyzed = (
            STREAMING_PLAN_BUILDERS[name](spark, SF_SMALL)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert validate(spark, SF_SMALL, analyzed) is None, name


def test_enrich_bound_rejects_rekeyed_rollup(spark):
    """Negative control: re-keying the complete-mode rollup onto an
    unbounded column (user_id) violates the O(5 segments) bound and must
    turn the adjudication back into a flag."""
    from stream_plan_audit import _enrich_key_domain_bound

    src = _events_stream(spark, SF_SMALL)
    rekeyed = src.groupBy("user_id").agg(F.count("*").alias("n"))
    analyzed = rekeyed._jdf.queryExecution().analyzed().toString()
    err = _enrich_key_domain_bound(spark, SF_SMALL, analyzed)
    assert err is not None and "grouping key changed" in err, err


def test_enrich_bound_rejects_grown_key_domain(spark, tmp_path):
    """Negative control: a dataset whose c_mktsegment cardinality
    exceeds the 5 spec-fixed segments violates the data-domain half of
    the bound."""
    from stream_plan_audit import _enrich_key_domain_bound

    fake_sf = tmp_path / "sf"
    fake_sf.mkdir()
    spark.createDataFrame(
        [(i, f"SEG{i}") for i in range(7)], "c_custkey long, c_mktsegment string"
    ).write.parquet(str(fake_sf / "customer.parquet"))
    analyzed = (
        STREAMING_PLAN_BUILDERS["streaming_enrich"](spark, SF_SMALL)
        ._jdf.queryExecution().analyzed().toString()
    )
    err = _enrich_key_domain_bound(spark, str(fake_sf), analyzed)
    assert err is not None and "7 > 5" in err, err


def test_sessionize_bound_rejects_growing_state_field():
    """Negative control (pure text): a state schema carrying an
    ArrayType or StringType field can grow with the event count — the
    fixed-width-tuple bound must reject it."""
    from stream_plan_audit import _sessionize_state_width_bound

    growing = (
        "~FlatMapGroupsInPandasWithState fn(user_id#8L)#13, [user_id#8L], "
        "[user_id#14L, n#15], [StructField(last_ts,DoubleType,true), "
        "StructField(event_ids,ArrayType(LongType,true),true)], Update, NoTimeout"
    )
    err = _sessionize_state_width_bound(None, "unused", growing)
    assert err is not None and "ArrayType" in err, err
    stringy = (
        "~FlatMapGroupsInPandasWithState fn(user_id#8L)#13, [user_id#8L], "
        "[user_id#14L, n#15], [StructField(buf,StringType,true)], Update, NoTimeout"
    )
    err2 = _sessionize_state_width_bound(None, "unused", stringy)
    assert err2 is not None and "StringType" in err2, err2


def test_hint_below_nested_join_does_not_excuse_outer(spark):
    """ADVICE r10 negative control: a broadcast hint buried below an
    intermediate join on the static side (dim1 JOIN broadcast(dim2))
    must NOT satisfy the outer stream-static join's pin check — hints do
    not propagate up across a join boundary, so the outer join would
    still SortMergeJoin."""
    src = _events_stream(spark, SF_SMALL)
    nation = spark.read.parquet(os.path.join(SF_SMALL, "nation.parquet")).select(
        "n_nationkey", "n_name"
    )
    dim = (
        spark.read.parquet(os.path.join(SF_SMALL, "customer.parquet"))
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    j = src.join(dim, src["user_id"] == F.col("c_custkey"))
    findings = audit_stream_plan(j)
    assert len(findings) == 1 and "without broadcast pin" in findings[0], findings
    # the pin on the OUTER static side (above the nested join) passes
    ok = src.join(F.broadcast(dim), src["user_id"] == F.col("c_custkey"))
    assert audit_stream_plan(ok) == []
