"""Self-check of the benchmark: a tiny sf0.001 run of every workload, untraced
and traced.

    python3 -m pytest perfbench/test_selfcheck.py -q

Asserts that every metric named in BENCHMARK.json is emitted with its unit,
that no statement failed or returned a wrong result, that the traced spans
nest under their statement, that the layers account for nearly all of a
traced statement's time (``other_s``, the time no layer claims, is a small
share), and that a traced statement's streaming counters come from the
streaming queries it started itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402

SEED = 7
OTHER_SHARE = 0.05  # median share of a traced statement's wall left to other_s

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _record(workload: str, trace: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{SEED}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_metrics_named_with_units_and_no_errors(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    expected = {m["name"]: m["unit"] for m in spec}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    for m in out["metrics"].values():
        assert isinstance(m["value"], (int, float))
    rec = _record(workload, trace)
    assert rec["seed"] == SEED and rec["end_to_end"]["error_rate"] == 0
    if not trace:
        return
    by_id = {s["id"]: s for s in rec["spans"]}
    for s in rec["spans"]:
        top = s
        while top["parent"] is not None:
            parent = by_id[top["parent"]]
            assert parent["start"] <= top["start"] <= top["end"] <= parent["end"]
            top = parent
        assert top["layer"] == "statement"
        assert top["attrs"]["workload"] == workload
    assert all(s["end"] > s["start"] for s in rec["spans"])
    traced = [r for r in rec["statements"] if "span" in r]
    assert traced, "no traced statement"
    other = []
    for r in traced:
        own = spans.self_times(rec["spans"], r["span"])
        assert all(v >= -1e-6 for v in own.values())
        other.append(own["statement"] / r["wall_s"])
        ids = {q for q, _ in r["streams"]["batches"]}
        assert ids <= set(r["streams"]["started"]), r["name"]
        if r["name"] == "streaming_tumbling":
            assert r["streams"]["batches"] and r["streams"]["started"]
    # other_s is the statement span's self time: benchmark glue (the eager
    # job counter read between builder and plan) that no layer claims.
    assert sorted(other)[len(other) // 2] < OTHER_SHARE, other
