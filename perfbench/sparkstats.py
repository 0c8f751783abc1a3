"""Read Spark's own bookkeeping over py4j: the SQL execution status
store, the job/stage status store and a DataFrame's planning tracker.

Spark keeps these whether or not its web UI runs; the benchmark only
reads them, so they add no work to the timed operations."""

from __future__ import annotations

import re

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}
_NUM_UNIT = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a status-store SQL metric string, such as ``'39.8 KiB'``
    or ``'total (min, med, max ...)\\n1.2 MiB (...)'`` (bytes or ms)."""
    body = text.split("\n", 1)[-1]
    m = _NUM_UNIT.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _seq(scala_seq):
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)


class SqlStore:
    """SQL executions Spark has recorded (the last 1000 are retained)."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        ids = [e.executionId() for e in _seq(self._store.executionsList())]
        return max(ids, default=-1)

    def executions_after(self, min_id: int, metric_names=()) -> list[dict]:
        """Finished executions with id > ``min_id``: duration in ms plus the
        summed totals of the named SQL metrics."""
        out = []
        for e in _seq(self._store.executionsList()):
            eid = e.executionId()
            done = e.completionTime()
            if eid <= min_id or done.isEmpty():
                continue
            rec = {"id": eid,
                   "ms": done.get().getTime() - e.submissionTime()}
            if metric_names:
                wanted = {pm.accumulatorId(): pm.name()
                          for pm in _seq(e.metrics()) if pm.name() in metric_names}
                values = self._store.executionMetrics(eid)
                for acc, name in wanted.items():
                    if values.contains(acc):
                        rec[name] = rec.get(name, 0.0) + parse_metric(values.apply(acc))
            out.append(rec)
        return out


def group_jobs(spark, group: str) -> tuple[int, int]:
    """(job count, shuffle bytes written) for one job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    n_jobs = 0
    for job in _seq(store.jobsList(None)):
        grp = job.jobGroup()
        if not grp.isEmpty() and grp.get() == group:
            n_jobs += 1
            stage_ids.update(int(s) for s in _seq(job.stageIds()))
    shuffle = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stage_ids)
    return n_jobs, int(shuffle)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution (forces planning if it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(phases.apply(p).durationMs()
                     for p in ("analysis", "optimization", "planning")
                     if phases.contains(p)))
