"""DataFrame-CONSTRUCTION census: time `ALL_QUERIES[name](spark, sf_dir)`
for every registry query WITHOUT running any action — the r11 Change-8/9
evidence dimension (driver-side plan-construction tax: py4j round trips,
eager analysis, and the documented eager-by-design builders like
streaming drains / versioned commits / guard counts).

Usage::

    python tools/build_census.py [--sf-dir DIR] [--out FILE] [--only a,b]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--out", default="/tmp/build_census.json")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from ballista_mvp_spark.session import build_session
    from ballista_mvp_spark.queries import ALL_QUERIES

    spark = build_session()
    ALL_QUERIES["count_star"](spark, args.sf_dir).collect()  # JIT warmup

    only = [s for s in args.only.split(",") if s]
    out: dict[str, float] = {}
    for name, fn in ALL_QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            fn(spark, args.sf_dir)
            out[name] = round(time.monotonic() - t0, 3)
        except Exception as e:  # noqa: BLE001 — census must not abort
            out[name] = -1.0
            print(f"{name}: ERROR {e}", file=sys.stderr)
        print(f"{name:40s} build={out[name]:7.3f}", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    ok = {k: v for k, v in out.items() if v >= 0}
    top = sorted(ok.items(), key=lambda kv: -kv[1])[:15]
    print(json.dumps({
        "total": round(sum(ok.values()), 2),
        "errors": len(out) - len(ok),
        "top": top,
    }))


if __name__ == "__main__":
    main()
