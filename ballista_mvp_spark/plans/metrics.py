"""Per-query runtime metrics — the Spark-native analogue of the
reference's REST metrics surface (reference ballista/scheduler/src/api/
handlers.rs:184-243 serves per-job/stage metrics: rows, bytes,
durations). Spark already aggregates the same numbers into per-operator
SQLMetrics on the executed plan; this module walks the (AQE-resolved)
plan tree after an action and rolls them up, so no listener registration
or UI/REST dependency is needed — it works on a vanilla session.

Metric-name provenance (org.apache.spark.sql.execution.metric):
- SQLShuffleWriteMetricsReporter: shuffleBytesWritten /
  shuffleRecordsWritten / shuffleWriteTime (ns)
- SQLShuffleReadMetricsReporter: localBytesRead / remoteBytesRead /
  recordsRead / fetchWaitTime
- FileSourceScanExec: numOutputRows / numFiles / filesSize / scanTime
- WholeStageCodegenExec: pipelineTime (ms)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def _walk(node):
    """Yield every physical node, descending through AQE wrappers
    (AdaptiveSparkPlanExec holds the runtime-re-planned tree in
    ``executedPlan``; QueryStageExec wraps its materialized ``plan``)."""
    cls = node.getClass().getSimpleName()
    yield node, cls
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    children = node.children()
    it = children.iterator()
    while it.hasNext():
        yield from _walk(it.next())


def _node_metrics(node) -> dict[str, int]:
    out = {}
    m = node.metrics()
    it = m.iterator()
    while it.hasNext():
        key = it.next()._1()
        out[key] = m.apply(key).value()
    return out


@dataclass
class QueryMetrics:
    """Rolled-up runtime metrics for one executed query."""

    output_rows: int = 0
    scan_rows: int = 0
    scan_files: int = 0
    scan_bytes: int = 0
    scan_time_ms: int = 0
    shuffle_bytes_written: int = 0
    shuffle_records_written: int = 0
    shuffle_bytes_read: int = 0
    shuffle_records_read: int = 0
    num_shuffle_exchanges: int = 0
    num_broadcast_exchanges: int = 0
    pipeline_time_ms: int = 0
    num_jobs: int = 0
    num_stages: int = 0
    num_tasks: int = 0
    wall_time_sec: float = 0.0
    codegen_classes: int = 0
    codegen_ms: float = 0.0
    per_node: list[tuple[str, dict[str, int]]] = field(default_factory=list)

    def as_dict(self) -> dict:
        d = self.__dict__.copy()
        d.pop("per_node")
        return d


def collect_plan_metrics(df: DataFrame) -> QueryMetrics:
    """Roll up SQLMetrics from the executed plan of an already-run
    DataFrame action. Values are zero until an action has materialized
    the plan (Spark fills SQLMetrics during execution)."""
    qm = QueryMetrics()
    root = df._jdf.queryExecution().executedPlan()
    first_rows = None
    for node, cls in _walk(root):
        metrics = _node_metrics(node)
        qm.per_node.append((cls, metrics))
        if cls == "FileSourceScanExec":
            qm.scan_rows += metrics.get("numOutputRows", 0)
            qm.scan_files += metrics.get("numFiles", 0)
            qm.scan_bytes += metrics.get("filesSize", 0)
            qm.scan_time_ms += metrics.get("scanTime", 0)
        elif cls == "ShuffleExchangeExec":
            qm.num_shuffle_exchanges += 1
            qm.shuffle_bytes_written += metrics.get("shuffleBytesWritten", 0)
            qm.shuffle_records_written += metrics.get("shuffleRecordsWritten", 0)
            qm.shuffle_bytes_read += metrics.get("localBytesRead", 0) + metrics.get(
                "remoteBytesRead", 0
            )
            qm.shuffle_records_read += metrics.get("recordsRead", 0)
        elif cls == "BroadcastExchangeExec":
            qm.num_broadcast_exchanges += 1
        elif cls == "WholeStageCodegenExec":
            qm.pipeline_time_ms += metrics.get("pipelineTime", 0)
        if first_rows is None and "numOutputRows" in metrics:
            first_rows = metrics["numOutputRows"]
    qm.output_rows = first_rows or 0
    return qm
