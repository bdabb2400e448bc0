"""EXPLAIN ANALYZE: executed-plan runtime statistics.

The reference's ExplainAnalyzeOperator
(MAIN/operator/ExplainAnalyzeOperator.java) runs the query and
annotates the plan with per-operator row counts and timings. Spark
keeps the same metrics on every executed physical operator
(SQLMetrics); this module executes a DataFrame's plan and walks the
final adaptive plan tree, surfacing the metrics relationally —
(op_id, operator, metric, value) rows — so EXPLAIN ANALYZE output is
itself queryable (a strict improvement on text output).

AQE wrapping: after execution the root is AdaptiveSparkPlanExec and
stages appear as *QueryStage nodes; both are unwrapped via their
executedPlan()/plan() accessors so the walk sees the real operators.

Scale: the walk is driver-side over the PLAN (dozens of nodes), never
over data; metrics were already aggregated by the JVM during the run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from presto_0_235_spark.session import local_rows

# Deterministic metric keys (row/file/partition counts). Timing
# metrics are returned too but are inherently run-specific — queries
# registering EXPLAIN ANALYZE output for differential checks should
# filter to these.
DETERMINISTIC_METRICS = frozenset(
    {"numOutputRows", "numFiles", "numPartitions"}
)

_WRAPPERS = ("AdaptiveSparkPlan",)


def _unwrap(jnode):
    """Descend through AQE wrapper nodes (AdaptiveSparkPlanExec /
    QueryStageExec) to the physical operator they hold."""
    for meth in ("executedPlan", "plan"):
        try:
            inner = getattr(jnode, meth)()
            if inner is not None and hasattr(inner, "nodeName"):
                return inner
        except Exception:
            pass
    return None


def _walk(jnode, rows: list, counter: list) -> None:
    name = jnode.nodeName()
    if name in _WRAPPERS or name.endswith("QueryStage"):
        inner = _unwrap(jnode)
        if inner is not None:
            _walk(inner, rows, counter)
            return
    op_id = counter[0]
    counter[0] += 1
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        rows.append((op_id, name, kv._1(), int(kv._2().value())))
    if not rows or rows[-1][0] != op_id:
        rows.append((op_id, name, "present", 1))
    for i in range(jnode.children().size()):
        _walk(jnode.children().apply(i), rows, counter)


def explain_analyze(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Execute ``df``'s plan and return its runtime statistics as rows.

    Like the reference's EXPLAIN ANALYZE, the query genuinely runs;
    the result set is discarded and the per-operator metrics
    (numOutputRows, numFiles, scanTime, aggTime, shuffle bytes, ...)
    come back as a DataFrame in preorder plan position.
    """
    df.collect()  # execute THIS dataset so metrics land on its plan
    rows: list = []
    _walk(df._jdf.queryExecution().executedPlan(), rows, [0])
    return local_rows(
        spark, rows, "op_id int, operator string, metric string, value long"
    )
