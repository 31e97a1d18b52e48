"""SparkSession construction for the engine.

The reference builds a DataFusion ``SessionContext`` per client session with
round-robin repartitioning disabled and target_partitions from config
(reference: ballista/scheduler/src/state/session_manager.rs:49-57). Our
equivalent is a SparkSession tuned for the same role: AQE on (the Spark
analogue of the reference's stage-resolution-time JoinSelection re-planning,
reference: ballista/scheduler/src/state/execution_stage.rs:246-253), hash
shuffle partitioning governed by ``spark.sql.shuffle.partitions``, UTC
session timezone for oracle-stable timestamp semantics.

Scale notes (100 TB discipline):
- AQE + coalescePartitions + skewJoin handle runtime re-planning, small
  partition merging, and skewed join keys without manual salting in the
  common case.
- ``spark.sql.files.maxPartitionBytes`` left at default 128m: at 100 TB that
  yields ~800k scan tasks, the right granularity for a 1000-executor fleet.
- shuffle.partitions defaults here are for local[N] testing; a cluster
  deployment overrides via --conf (AQE coalescing makes the initial number
  non-critical as long as it is an upper bound).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[N]`` and the shuffle width: ``SPARK_GRAFT_CPUS`` if
    set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half the
    host's physical memory, capped at 16g (a fixed 16g outgrows a small
    host, where the kernel then kills the JVM mid-run)."""
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(16 * 1024, half_mib)}m")


def build_session(
    app_name: str = "ballista-mvp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Mirrors the session-construction role of the reference scheduler's
    ``SessionManager::create_session`` (session_manager.rs:34-57) — one
    place that pins every execution-relevant config.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    nparts = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.default.parallelism", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # spark.sql.cbo.enabled deliberately NOT set here: CBO stat
        # derivation runs per-plan in the optimizer; Engine.estimate is the
        # one consumer and enables it locally (save/restore) instead of
        # taxing every query's planning time.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Holds the registry working set: ~4,000 classes a pass, ~41 KiB metaspace each.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Broadcast is a runtime decision: static threshold off, AQE promotes
        # joins from materialized stage sizes; F.broadcast() pins bypass both
        # (why: SCALE.md "Broadcast policy").
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark cannot
        # represent; read as long and convert in tables.py (SURVEY.md §1.2:
        # ns must truncate to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 2026-08 testdata regen: ts is plain µs NTZ-annotated; read as LTZ so
        # event-time watermarks accept it (values identical under UTC).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # -XX:-DontCompileHugeMethods stays unset: it triggers C2 compile
        # storms on big generated plans (rejected, OPTIMIZATION_r11.md).
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
