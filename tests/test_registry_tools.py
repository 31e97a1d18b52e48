"""The tools-level registry jobs run: bench.py's shared timing pass and
the digest-pinned scale ladder (tools/scale_ladder.py)."""

from __future__ import annotations

import os
import sys

import pytest

from bench import time_pass
from ballista_mvp_spark.queries import ALL_QUERIES

from .conftest import SF_SMALL

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from scale_ladder import FAMILIES, ladder  # noqa: E402


def test_time_pass_times_builds_and_records_errors(spark, monkeypatch):
    def boom(spark, sf_dir):
        raise RuntimeError("builder failed")

    monkeypatch.setitem(ALL_QUERIES, "boom", boom)
    out = time_pass(spark, SF_SMALL, ["tpch_q1", "boom", "sim_topk"])
    assert list(out) == ["tpch_q1", "boom", "sim_topk"]
    for name in ("tpch_q1", "sim_topk"):
        assert 0 < out[name]["build_s"] <= out[name]["wall_s"], out[name]
    assert out["boom"] == {"error": "RuntimeError: builder failed"}


@pytest.mark.parametrize("query", sorted(FAMILIES))
def test_scale_ladder_rungs_are_invariant(spark, query):
    records = list(ladder(spark, SF_SMALL, query, [0, 1]))
    assert [r["mult"] for r in records] == [0, 1]
    assert all(r["ok"] for r in records), records
    assert records[0]["digest"] == records[1]["digest"]
    assert records[1]["docs"] == records[0]["docs"] + 16_000
    if FAMILIES[query].planted_pairs:
        assert all(r["planted"] == 1_000 for r in records), records
