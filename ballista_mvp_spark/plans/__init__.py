"""Plan inspection & ops utilities — the Spark analogue of the
reference's EXPLAIN/ANALYZE nodes (reference: ballista/core/proto/
datafusion.proto:219-227) and its per-stage metrics REST surface
(ballista/scheduler/src/api/handlers.rs:184-243).

Used by tests/test_plans.py to enforce the 100 TB plan discipline
(pushdown reaches the scan, dimension joins broadcast, top-k avoids
global sorts) and by Engine users to introspect what Catalyst chose.
"""

from __future__ import annotations

from dataclasses import dataclass

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """EXPLAIN (ExplainNode, datafusion.proto:219-222) as a string.
    Modes: simple | extended | codegen | cost | formatted."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanFacts:
    """Digest of the physical plan's scale-relevant choices."""

    pushed_filters: list[str]
    read_schemas: list[str]
    n_exchanges: int
    broadcast_joins: int
    sortmerge_joins: int
    shuffledhash_joins: int
    has_take_ordered: bool
    wholestage_codegen: bool

    def summary(self) -> str:
        return (
            f"exchanges={self.n_exchanges} bhj={self.broadcast_joins} "
            f"smj={self.sortmerge_joins} shj={self.shuffledhash_joins} "
            f"topk={self.has_take_ordered} codegen={self.wholestage_codegen} "
            f"pushed={self.pushed_filters}"
        )


def plan_facts(df: DataFrame) -> PlanFacts:
    plan = explain_str(df, "formatted")
    executed = executed_plan(df)
    pushed = [
        seg.split("]")[0].strip()
        for seg in plan.split("PushedFilters: [")[1:]
        if seg.split("]")[0].strip()
    ]
    schemas = [seg.splitlines()[0] for seg in plan.split("ReadSchema: ")[1:]]
    return PlanFacts(
        pushed_filters=pushed,
        read_schemas=schemas,
        # shuffle exchanges only: 'BroadcastExchange'/'ReusedExchange'
        # carry their own counters and must not inflate this one
        n_exchanges=len(
            re.findall(r"(?<!Broadcast)(?<!Reused)Exchange ", executed)
        ),
        broadcast_joins=executed.count("BroadcastHashJoin"),
        sortmerge_joins=executed.count("SortMergeJoin"),
        shuffledhash_joins=executed.count("ShuffledHashJoin"),
        has_take_ordered="TakeOrderedAndProject" in executed,
        wholestage_codegen="WholeStageCodegen" in executed,
    )


def sort_python_output(df: DataFrame, *cols: str) -> DataFrame:
    """``df.orderBy(*cols)`` for a ``df`` whose plan ends in a Python
    stage (a pandas UDF, ``applyInPandas``, ``mapInPandas``, a Python
    UDTF). A global sort range-partitions its input, and the boundary
    sample is a separate job over the sort's child: straight over the
    Python stage, that job runs every Python task a second time. A
    round-robin shuffle to ``defaultParallelism`` partitions in between
    makes the sample read shuffle output, so the Python stage runs once."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n).orderBy(*cols)


def analyze(df: DataFrame) -> dict:
    """ANALYZE (ExplainNode{analyze}, datafusion.proto:224-227 /
    AnalyzeNode): execute and report row count + the executed plan with
    runtime stats (AQE final plan). The action runs df's OWN
    QueryExecution — df.count() would execute a DERIVED aggregate plan
    and leave df's executed_plan un-run (isFinalPlan false, no runtime
    stats). The count runs entirely JVM-side against that plan's RDD
    (executedPlan().execute().count()): no row ever crosses to Python,
    so a fact-table-sized ANALYZE neither OOMs the driver (collect)
    nor crawls through the single Py4J socket (toLocalIterator). The
    Py4J path is private API, so a streamed Python count remains as
    the fallback."""
    try:
        n = df._jdf.queryExecution().executedPlan().execute().count()
    except Exception:
        n = sum(1 for _ in df.toLocalIterator())
    return {"rows": n, "executed_plan": executed_plan(df)}
