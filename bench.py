"""Benchmark harness — the driver runs this per-round and records the JSON
line against BASELINE.md (within-2× gate at sf0.1; BASELINE.md §"Operative
baseline").

Headline set: the reference's canonical TPC-H queries (Q1/Q12 are its own
plan-test queries, planner.rs:257-513) + the join/agg-heavy adaptations +
one representative of each extension family (dedup sketch, ANN, text,
events). Each query is timed end-to-end (plan + execute + collect) on a
warm session; SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS override data and
parallelism.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ballista_mvp_spark.queries import ALL_QUERIES  # noqa: E402
from ballista_mvp_spark.session import build_session  # noqa: E402

BENCH_QUERIES = [
    "count_star",
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q12",
    "tpch_q14",
    "tpch_q18",
    "agg_grouping_sets",
    "window_row_number",
    "events_hourly",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk",
    "text_quality",
]


def _machine_state() -> dict:
    """Contention evidence recorded with every run (VERDICT r5 #3): three
    driver rounds of cold-total drift (18.5 -> 21.4 -> 22.5 s) were each
    adjudicated as shared-box load from prose in PERF.md; these fields
    make the claim readable out of the JSON itself."""
    state: dict = {}
    try:
        state["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            mem = {l.split(":")[0]: l.split()[1] for l in f if ":" in l}
        state["page_cache_gib"] = round(int(mem.get("Cached", 0)) / 2**20, 2)
        state["mem_available_gib"] = round(
            int(mem.get("MemAvailable", 0)) / 2**20, 2
        )
    except (OSError, ValueError):
        pass
    return state


def time_pass(spark, sf_dir: str, names) -> dict[str, dict]:
    """One timed pass over registry queries, in order. Per name:
    ``{"build_s", "build_calls", "wall_s"}`` (``perf_counter`` seconds for
    the builder call, the py4j commands the builder call sent to the JVM,
    and seconds for the builder call plus ``collect()``), or ``{"error"}``
    if the query raised; one bad query does not stop the pass."""
    commands = py4j_commands(spark)
    out: dict[str, dict] = {}
    for name in names:
        c0 = commands[0]
        t0 = time.perf_counter()
        try:
            df = ALL_QUERIES[name](spark, sf_dir)
            build_s = time.perf_counter() - t0
            build_calls = commands[0] - c0
            df.collect()
        except Exception as e:  # noqa: BLE001 — recorded, the caller decides
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            continue
        out[name] = {
            "build_s": build_s,
            "build_calls": build_calls,
            "wall_s": time.perf_counter() - t0,
        }
    return out


def py4j_commands(spark) -> list[int]:
    """A one-element list holding the number of py4j commands this
    process has sent to ``spark``'s JVM since the first call, counted by
    wrapping the gateway client's ``send_command`` (once per client).
    Object-release messages are not counted: py4j's finalizer thread
    sends them whenever Python collects a JVM proxy, not when the
    builder asks for work."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    counter = getattr(client, "_bench_commands", None)
    if counter is None:
        counter, send = [0], client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                counter[0] += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        client._bench_commands = counter
    return counter


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    machine_before = _machine_state()
    spark = build_session("bench")
    # warm the JVM/codegen path once so per-query times measure the engine,
    # not JIT warmup
    ALL_QUERIES["count_star"](spark, sf_dir).collect()

    # Two passes per query. Pass 1 (cold) includes Catalyst planning +
    # whole-stage-codegen compilation of each distinct plan — the headline
    # `value`, methodology-identical across rounds. Pass 2 (warm) reruns
    # the suite in the same session: first-use JVM class loading and JIT
    # warmup are gone, and its generated classes hit Spark's class cache
    # (build_session sizes spark.sql.codegen.cache.maxEntries to the
    # registry's working set). Pass 2 thus measures per-query planning +
    # execution on a warm JVM; only code whose literals change between
    # runs recompiles.
    cold_pass = time_pass(spark, sf_dir, BENCH_QUERIES)
    warm_pass = time_pass(spark, sf_dir, BENCH_QUERIES)
    errors = {
        n: r["error"] for p in (cold_pass, warm_pass) for n, r in p.items() if "error" in r
    }
    if errors:
        print(json.dumps({"errors": errors}), file=sys.stderr)
        sys.exit(1)
    times = {n: round(r["wall_s"], 3) for n, r in cold_pass.items()}
    warm = {n: round(r["wall_s"], 3) for n, r in warm_pass.items()}

    total = round(sum(times.values()), 3)
    # `value` stays the cold total so BENCH_r01..rN remain directly
    # comparable; `warm_suite_seconds` is the CROSS-ROUND HEADLINE for
    # plan-regression reads (cold carries +-2 s of JIT-compile noise that
    # run order alone moves — VERDICT r5 "Performance"). The machine_*
    # fields are the contention evidence for adjudicating cold drift.
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_warm": warm,
                "warm_suite_seconds": round(sum(warm.values()), 3),
                "warm_is_cross_round_headline": True,
                "machine_before": machine_before,
                "machine_after": _machine_state(),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
