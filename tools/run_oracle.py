"""Local mirror of the driver's t2 correctness gate.

Usage: python tools/run_oracle.py [--vanilla] [sf_dir] [query-name-prefix ...]

Runs every query in the registry against the DuckDB oracle and prints one
line per query. Exit code 1 if any oracle-checked query fails, or at
once if the Spark session is lost (its JVM died: every later query
would only fail to connect). The check
is the driver's pandas canonicalization (oracle.compare_strict), so
array/map/Decimal output cells FAIL here instead of on the driver.

--vanilla runs under a default-config SparkSession (Spark 4 defaults:
ANSI mode ON, 200 shuffle partitions, none of build_session's tuning) —
the exact session the grading driver constructs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JNetworkError

from ballista_mvp_spark.oracle import compare_strict, duckdb_connect
from ballista_mvp_spark.queries import ALL_ORACLES, ALL_QUERIES
from ballista_mvp_spark.session import build_session, local_cpus


def main() -> int:
    argv = list(sys.argv[1:])
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    unknown = [a for a in argv if a.startswith("--")]
    if unknown:
        # a removed or mistyped flag must not be read as the data directory
        print(f"ERROR: unknown option(s) {unknown}\n{__doc__.splitlines()[2]}")
        return 2
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    prefixes = argv[1:] or None
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{local_cpus()}]")
            .appName("oracle-check-vanilla")
            .getOrCreate()
        )
    else:
        spark = build_session("oracle-check")
    con = duckdb_connect(sf_dir)
    failures = 0
    ran = 0
    for name, fn in ALL_QUERIES.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        ran += 1
        t0 = time.time()
        try:
            res = compare_strict(name, fn(spark, sf_dir), ALL_ORACLES.get(name), con)
        except (ConnectionRefusedError, Py4JNetworkError) as e:
            print(f"\nERROR: Spark session lost after {ran - 1} queries "
                  f"({name}: {type(e).__name__}: {str(e)[:200]})")
            return 1
        except Exception as e:  # noqa: BLE001
            print(f"[ERR ] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        print(f"{res}  ({time.time() - t0:.1f}s)")
        if not res.ok:
            failures += 1
    if ran == 0:
        # a typo'd prefix must not read as a green gate
        print(f"\nERROR: no registry query matches prefixes {prefixes}")
        return 1
    print(f"\n{failures} failures / {ran} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
