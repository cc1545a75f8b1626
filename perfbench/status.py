"""Read Spark's own bookkeeping for a tagged span of work.

Every measured step runs under its own job group.  Afterwards the
statusTracker gives the group's jobs and stages, the core status store
(``AppStatusStore``) gives per-stage task metrics, and the SQL status store
(``sharedState().statusStore()``) gives per-operator SQL metrics of the SQL
executions started during the step.  Both stores stay populated with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import statistics
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """Numeric total of a formatted SQL metric: '1,234', or the first
    line after the 'total (min, med, max ...)' header ('12.3 MiB',
    '1.2 s').  None when the text holds no number."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusProbe:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_range: dict[str, tuple[int, int]] = {}

    @contextmanager
    def group(self, tag: str):
        """Run the body's Spark jobs under job group `tag`."""
        before = int(self.sql.executionsCount())
        self.sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()
            self._sql_range[tag] = (before, int(self.sql.executionsCount()))

    def job_ids(self, tag: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(tag))

    def stages(self, tag: str) -> list:
        ids = set()
        for job in self.job_ids(tag):
            info = self.sc.statusTracker().getJobInfo(job)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            try:
                out.append(self.core.lastStageAttempt(int(sid)))
            except Exception:  # noqa: BLE001 - skipped stage: never ran
                continue
        return out

    def stage_totals(self, tag: str) -> dict:
        st = self.stages(tag)
        return {
            "tasks": sum(int(s.numCompleteTasks()) for s in st),
            "executor_run_s": sum(int(s.executorRunTime()) for s in st) / 1e3,
            "gc_s": sum(int(s.jvmGcTime()) for s in st) / 1e3,
            "spill_bytes": sum(
                int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
                for s in st
            ),
            "input_records": sum(int(s.inputRecords()) for s in st),
            "read_tasks": sum(
                int(s.numCompleteTasks()) for s in st if int(s.inputBytes()) > 0
            ),
            "shuffle_write_bytes": sum(int(s.shuffleWriteBytes()) for s in st),
        }

    def task_skew(self, tag: str) -> float:
        """Largest max/median task run time over the group's stages that
        ran more than one task."""
        worst = 1.0
        for s in self.stages(tag):
            if int(s.numCompleteTasks()) < 2:
                continue
            tasks = _seq(
                self.core.taskList(int(s.stageId()), int(s.attemptId()), 100000)
            )
            runs = [
                int(t.taskMetrics().get().executorRunTime())
                for t in tasks
                if t.taskMetrics().isDefined()
            ]
            med = statistics.median(runs) if runs else 0
            if med > 0:
                worst = max(worst, max(runs) / med)
        return worst

    def sql_metrics(self, tag: str) -> list[tuple[str, str, float]]:
        """(operator name, metric name, total) for every SQL metric of
        the SQL executions the group started."""
        lo, hi = self._sql_range.get(tag, (0, 0))
        out = []
        for ex in _seq(self.sql.executionsList(lo, hi - lo)):
            eid = int(ex.executionId())
            values = {}
            it = self.sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    value = parse_metric(values.get(int(m.accumulatorId()), ""))
                    if value is not None:
                        out.append((node.name(), m.name(), value))
        return out

    def sql_metric_sum(self, tag: str, node_prefix: str, metric: str) -> float:
        return sum(
            v
            for node, name, v in self.sql_metrics(tag)
            if node.startswith(node_prefix) and name == metric
        )
