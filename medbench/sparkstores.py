"""Per-layer figures read back from Spark's own status stores.

Nothing here runs while an op is timed: the runner marks the job and SQL
execution counters before an op and reads what the op left behind after
it. Jobs and stages come from the SparkContext's ``AppStatusStore``;
per-node SQL metrics (files read, rows written, commit time, ...) from
the session's ``SQLAppStatusStore``. Both are filled with the UI off.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number: bytes for sizes,
    seconds for timings. Multi-task values print a header line and then
    ``total (min, med, max)``; the total is taken."""
    if not text:
        return 0.0
    line = text.splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusStores:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id): everything at or past
        the mark belongs to what runs next."""
        while True:
            try:
                self.app.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
        return self._next_job, int(self.sql.executionsCount())

    def jobs_since(self, mark: tuple[int, int]) -> list[int]:
        return list(range(mark[0], self.mark()[0]))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Job, task, task-CPU, shuffle-write and spill totals; a stage
        shared by several jobs counts once and skipped stages count 0."""
        out = dict(jobs=len(job_ids), tasks=0, task_cpu_s=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0)
        seen = set()
        for j in job_ids:
            sids = self.app.job(j).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.app.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return out

    def executions(self, mark: tuple[int, int]) -> list[dict]:
        """SQL executions started since ``mark``: duration, the output
        path of a file write (None otherwise) and every node's metrics
        as {node name: {metric name: summed value}}."""
        out = []
        for eid in range(mark[1], int(self.sql.executionsCount())):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            e = opt.get()
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            plan = e.physicalPlanDescription()
            m = re.search(
                r"InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: file:([^,]+),", plan
            )
            values = self.sql.executionMetrics(eid)
            nodes: dict[str, dict[str, float]] = {}
            graph = self.sql.planGraph(eid).allNodes()
            for k in range(graph.size()):
                node = graph.apply(k)
                metrics = node.metrics()
                acc = nodes.setdefault(node.name().strip(), {})
                for i in range(metrics.size()):
                    pm = metrics.apply(i)
                    v = values.get(pm.accumulatorId())
                    acc[pm.name()] = acc.get(pm.name(), 0.0) + parse_metric(
                        v.get() if v.isDefined() else None
                    )
            out.append(dict(
                id=eid,
                seconds=(end - e.submissionTime()) / 1000.0,
                output=m.group(1) if m else None,
                nodes=nodes,
            ))
        return out


def node_sum(executions: list[dict], node_prefix: str, metric: str) -> float:
    """Sum ``metric`` over every node whose name starts with ``node_prefix``."""
    return sum(
        vals.get(metric, 0.0)
        for e in executions
        for name, vals in e["nodes"].items()
        if name.startswith(node_prefix)
    )
