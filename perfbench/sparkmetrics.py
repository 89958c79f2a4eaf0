"""Spark's own SQL metrics for the executions a job ran.

Reads the SQL status store (``sharedState().statusStore()``), which is
filled while queries run even with the UI disabled: ``executionsList``
for the executions that started after a marker, ``planGraph`` for their
operator nodes and ``executionMetrics`` for the values. Reading the
store never re-plans or re-runs anything (unlike asking the query for
``executedPlan().finalPhysicalPlan()``, which re-executes stages).
"""

from __future__ import annotations

import re

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?[\d.]+(?:E-?\d+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?(?![\w])")

PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
PYTHON_RUN = "time to run Python workers"
PYTHON_INIT = "time to initialize Python workers"
SHUFFLE_WRITTEN = "shuffle bytes written"


def parse_value(text: str) -> dict[str, float]:
    """A formatted metric value in base units (bytes, seconds, count).

    Per-task metrics read ``total (min, med, max (stageId: taskId))`` on
    the first line and the numbers on the second; single values are one
    number. Returns {"total": ..} plus "min"/"med"/"max" when given."""
    body = text.strip().split("\n")[-1]
    body = re.sub(r"\(stage [^)]*\)", "", body)
    body = re.sub(r"(?<=\d),(?=\d{3})", "", body)  # sums print thousands separators
    nums = [float(v) * _UNITS.get(u or "", 1.0) for v, u in _NUM.findall(body)]
    if not nums:
        return {"total": 0.0}
    out = {"total": nums[0]}
    if len(nums) >= 4:
        out.update(min=nums[1], med=nums[2], max=nums[3])
    return out


class SqlMetrics:
    """Reader of the SQL status store of one session."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self._tracker = spark.sparkContext.statusTracker()

    def marker(self) -> int:
        """Highest execution id so far (-1 before the first)."""
        execs = self._store.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def since(self, marker: int) -> list[dict]:
        """Every execution with an id above ``marker``: its description,
        the number of tasks of its stages, and each operator node with
        its parsed metrics."""
        execs = self._store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= marker:
                continue
            values = self._store.executionMetrics(eid)
            nodes = []
            all_nodes = self._store.planGraph(eid).allNodes()
            for k in range(all_nodes.size()):
                node = all_nodes.apply(k)
                metrics = {}
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_value(v.get())
                nodes.append({"id": node.id(), "name": node.name(), "metrics": metrics})
            stage_ids = [int(s) for s in e.stages().mkString(",").split(",") if s]
            tasks = 0
            for sid in stage_ids:
                info = self._tracker.getStageInfo(sid)
                tasks += info.numTasks if info is not None else 0
            out.append({
                "id": eid, "description": e.description(), "stages": stage_ids,
                "tasks": tasks, "nodes": nodes,
            })
        return out


def summarize(executions: list[dict]) -> dict[str, float]:
    """Per-job totals over the Python-UDF and Exchange nodes.

    ``task_max_over_median`` is the worst per-node skew: the slowest
    task's Python time over the median task's, per pandas node, and the
    largest shuffle write over the median, per Exchange node."""
    tot = {"shuffle_write_mb": 0.0, "python_sent_mb": 0.0,
           "python_returned_mb": 0.0, "python_time_s": 0.0, "python_init_s": 0.0,
           "tasks": 0.0, "task_max_over_median": 0.0}
    for e in executions:
        tot["tasks"] += e["tasks"]
        for n in e["nodes"]:
            m = n["metrics"]
            skew_metric = None
            if PYTHON_SENT in m:
                tot["python_sent_mb"] += m[PYTHON_SENT]["total"] / 2**20
                tot["python_returned_mb"] += m.get(PYTHON_RETURNED, {"total": 0.0})["total"] / 2**20
                tot["python_time_s"] += m.get(PYTHON_RUN, {"total": 0.0})["total"]
                tot["python_init_s"] += m.get(PYTHON_INIT, {"total": 0.0})["total"]
                skew_metric = m.get(PYTHON_RUN)
            if SHUFFLE_WRITTEN in m:
                tot["shuffle_write_mb"] += m[SHUFFLE_WRITTEN]["total"] / 2**20
                skew_metric = m[SHUFFLE_WRITTEN]
            if skew_metric and skew_metric.get("med", 0.0) > 0:
                tot["task_max_over_median"] = max(
                    tot["task_max_over_median"], skew_metric["max"] / skew_metric["med"]
                )
    return tot
