"""Read one Spark event log (``spark.eventLog.enabled``, uncompressed, not
rolled) into job, task and SQL-operator totals.

SQL metrics are keyed by accumulator id.  The ids are declared on the plan
nodes of ``SQLExecutionStart`` and every adaptive re-plan; their values
arrive as per-task updates (executor-side metrics) and as driver
accumulator updates (file listing, write commit).  ``op(node, name)`` sums
one metric over every plan node whose name starts with ``node``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Log:
    app_start: float = 0.0
    app_end: float = 0.0
    # job id -> [submit s, end s, description]
    jobs: dict[int, list] = field(default_factory=dict)
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    task_gc_s: float = 0.0
    shuffle_bytes: int = 0
    # accumulator id -> (plan node name, metric name, metric type)
    acc_meta: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    acc_sum: dict[int, int] = field(default_factory=dict)
    # execution id -> plan node names of its first plan
    exec_nodes: dict[int, list[str]] = field(default_factory=dict)

    def op(self, node: str, name: str) -> float:
        """Sum of metric ``name`` over plan nodes named ``node*``, in the
        metric's natural unit (seconds for timings, else as counted)."""
        total = 0.0
        for acc, (n, m, kind) in self.acc_meta.items():
            if n.startswith(node) and m == name:
                v = self.acc_sum.get(acc, 0)
                total += v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else v
        return total

    def job_wall(self, description: str | None = None) -> float:
        """Wall time covered by jobs (of one description), overlaps merged."""
        return union_length(
            (s, e) for s, e, d in self.jobs.values()
            if description is None or d == description
        )

    def writes(self) -> int:
        """SQL executions that wrote files (one per sink pass)."""
        return sum(
            any(n.startswith("Execute InsertIntoHadoopFsRelationCommand") for n in nodes)
            for nodes in self.exec_nodes.values()
        )


def union_length(intervals) -> float:
    """Total length of (start, end) intervals, overlaps merged."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _walk(plan: dict, meta: dict, names: list[str]) -> None:
    names.append(plan["nodeName"])
    for m in plan.get("metrics", ()):
        meta[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _walk(child, meta, names)


def read(path: str) -> Log:
    log = Log()
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                log.app_start = e["Timestamp"] / 1e3
            elif kind == "SparkListenerApplicationEnd":
                log.app_end = e["Timestamp"] / 1e3
            elif kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                log.jobs[e["Job ID"]] = [e["Submission Time"] / 1e3, None, desc]
            elif kind == "SparkListenerJobEnd":
                log.jobs[e["Job ID"]][1] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                log.task_run_s += m.get("Executor Run Time", 0) / 1e3
                log.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                log.task_gc_s += m.get("JVM GC Time", 0) / 1e3
                log.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        i = acc["ID"]
                        log.acc_sum[i] = log.acc_sum.get(i, 0) + int(acc["Update"])
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                names: list[str] = []
                _walk(e["sparkPlanInfo"], log.acc_meta, names)
                log.exec_nodes[e["executionId"]] = names
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _walk(e["sparkPlanInfo"], log.acc_meta, [])
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e.get("sqlPlanMetrics", ()):
                    log.acc_meta.setdefault(m["accumulatorId"], ("?", m["name"], m["metricType"]))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for i, v in e["accumUpdates"]:
                    log.acc_sum[i] = log.acc_sum.get(i, 0) + int(v)
    for job in log.jobs.values():
        if job[1] is None:  # never ended: count it to the end of the app
            job[1] = log.app_end or job[0]
    return log
