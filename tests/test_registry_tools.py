"""The tools-level registry jobs run: bench.py's shared timing pass, the
digest-pinned scale ladder (tools/scale_ladder.py) and the oracle
sweep's stop on a lost session (tools/run_oracle.py)."""

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

import run_oracle  # noqa: E402
from scale_ladder import FAMILIES, ladder  # noqa: E402


def test_time_pass_times_builds_and_records_errors(spark, monkeypatch):
    def boom(spark, sf_dir):
        raise RuntimeError("builder failed")

    monkeypatch.setitem(ALL_QUERIES, "boom", boom)
    out = time_pass(spark, SF_SMALL, ["tpch_q1", "boom", "sim_topk"])
    assert list(out) == ["tpch_q1", "boom", "sim_topk"]
    for name in ("tpch_q1", "sim_topk"):
        assert 0 < out[name]["build_s"] <= out[name]["wall_s"], out[name]
        assert out[name]["build_calls"] > 0, out[name]
    assert out["boom"] == {"error": "RuntimeError: builder failed"}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_scale_ladder_rungs_are_invariant(spark, family):
    fam = FAMILIES[family]
    records = list(ladder(spark, SF_SMALL, family, [0, 1]))
    assert [(r["mult"], r["query"]) for r in records] == [
        (m, q) for m in (0, 1) for q in fam.queries
    ]
    assert all(r["ok"] for r in records), records  # every digest equals its first rung's
    n = len(fam.queries)
    for base, grown in zip(records[:n], records[n:]):
        assert grown[fam.table] == base[fam.table] + (fam.per_mult or base[fam.table])
    if fam.planted_pairs:
        assert all(r["planted"] == fam.planted_pairs for r in records), records


def test_oracle_sweep_stops_when_session_is_lost(spark, monkeypatch, capsys):
    """A dead JVM refuses every later connection: the sweep stops at the
    first refused one with a single line instead of failing each
    remaining query separately."""
    ran = []

    def lost(spark, sf_dir):
        raise ConnectionRefusedError(111, "Connection refused")

    def after(spark, sf_dir):
        ran.append("after")
        return ALL_QUERIES["tpch_q1"](spark, sf_dir)

    queries = {"tpch_q1": ALL_QUERIES["tpch_q1"], "lost": lost, "after": after}
    monkeypatch.setattr(run_oracle, "ALL_QUERIES", queries)
    monkeypatch.setattr(run_oracle, "build_session", lambda app: spark)
    monkeypatch.setattr(sys, "argv", ["run_oracle.py", SF_SMALL])
    assert run_oracle.main() == 1
    out = capsys.readouterr().out
    assert "Spark session lost after 1 queries" in out, out
    assert "[ERR ]" not in out and ran == [], out


def test_driver_memory_defaults_to_half_the_host(monkeypatch):
    from ballista_mvp_spark.session import _driver_memory

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert _driver_memory() == "2g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = _driver_memory()
    assert mem.endswith("m"), mem
    mib = int(mem[:-1])
    assert 0 < mib <= 16 * 1024 and mib * 2**21 <= phys, (mem, phys)
