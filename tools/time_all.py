"""Time every registry query at a given SF — the registry-wide census of
where the time goes across all declared queries, not just the 20 bench
members.

Runs bench.py's timing pass (same timed interval, same warm-up), so the
numbers are comparable with BENCH history: one cold pass (plan + codegen
+ execute), then --warm-passes warm passes, keeping each query's best.
`build` is the cold pass's builder-call time per query (driver-side
DataFrame construction, including any jobs a builder runs eagerly), and
`build_calls` the py4j commands each builder call sent to the JVM.
Usage:

    python tools/time_all.py [--sf-dir /root/testdata/sf0.1] [--out /tmp/x.json]
        [--only name1,name2] [--warm-passes 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ballista_mvp_spark.queries import ALL_QUERIES  # noqa: E402
from ballista_mvp_spark.session import build_session  # noqa: E402
from bench import time_pass  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="/tmp/time_all.json")
    ap.add_argument("--only", default="")
    ap.add_argument("--warm-passes", type=int, default=1)
    args = ap.parse_args()

    names = [n for n in ALL_QUERIES if not args.only or n in set(args.only.split(","))]
    spark = build_session("time-all")
    ALL_QUERIES["count_star"](spark, args.sf_dir).collect()  # JIT warmup

    cold_pass = time_pass(spark, args.sf_dir, names)
    errs = {n: r["error"] for n, r in cold_pass.items() if "error" in r}
    ok = [n for n in names if n not in errs]
    best = {n: float("inf") for n in ok}
    for _ in range(args.warm_passes):
        for n, r in time_pass(spark, args.sf_dir, ok).items():
            if "error" in r:
                errs.setdefault(n, r["error"])
            else:
                best[n] = min(best[n], r["wall_s"])
    cold = {n: round(cold_pass[n]["wall_s"], 3) for n in ok if n not in errs}
    warm = {n: round(best[n], 3) for n in cold}
    build = {n: round(cold_pass[n]["build_s"], 3) for n in cold}
    build_calls = {n: cold_pass[n]["build_calls"] for n in cold}
    for n in cold:
        print(
            f"{n:40s} cold={cold[n]:7.3f} warm={warm[n]:7.3f} build={build[n]:7.3f} "
            f"calls={build_calls[n]:6d}",
            file=sys.stderr,
        )

    out = {
        "sf_dir": args.sf_dir,
        "cold": cold,
        "warm": warm,
        "build": build,
        "build_calls": build_calls,
        "errors": errs,
        "cold_total": round(sum(cold.values()), 3),
        "warm_total": round(sum(warm.values()), 3),
        "loadavg": list(os.getloadavg()),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"cold_total": out["cold_total"], "warm_total": out["warm_total"], "n": len(cold), "errors": len(errs)}))


if __name__ == "__main__":
    main()
