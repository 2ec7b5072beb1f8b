"""Reads Spark's status stores through py4j (no UI needed) and attributes
jobs, stages and SQL metrics to recorder spans by job group.

- jobs: `statusTracker().getJobIdsForGroup`;
- stages: `AppStatusStore.lastStageAttempt` (run, CPU and GC time, input,
  shuffle and spill bytes, submission and completion times);
- SQL metrics: the SQL status store's per-execution metric values
  (files and bytes written or read, bytes crossing the Python boundary);
- Catalyst phases: `queryExecution().tracker().phases()`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

SQL_COUNTERS = {
    "number of written files": "files_written",
    "written output": "bytes_written",
    "number of output rows@write": "rows_written",
    "number of files read": "files_read",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_metric(text: str) -> float:
    """Parse a SQL metric string ('1,234', '407.0 KiB', or the
    'total (min, med, max ...)\\n<total> (...)' form) to a number;
    sizes come back in bytes, times in their printed unit."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    interval: tuple[float, float] | None = None  # epoch seconds


@dataclass
class GroupStats:
    jobs: int = 0
    stages: list[StageStats] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = spark._jsc.sc()
        self._store = self._app.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs that already finished."""
        self._app.listenerBus().waitUntilEmpty(30_000)

    def _stage(self, sid: int) -> StageStats | None:
        sd = self._store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        sub, done = sd.submissionTime(), sd.completionTime()
        interval = None
        if sub.isDefined() and done.isDefined():
            interval = (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
        return StageStats(
            tasks=sd.numTasks(),
            run_ms=sd.executorRunTime(),
            cpu_ms=sd.executorCpuTime() / 1e6,
            gc_ms=sd.jvmGcTime(),
            input_bytes=sd.inputBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            interval=interval,
        )

    def _sql_by_job(self) -> dict[int, dict[str, float]]:
        """SQL counters of every retained execution, keyed by each of the
        execution's job ids (the first job of an execution carries them)."""
        out: dict[int, dict[str, float]] = {}
        for e in self._conv.asJava(self._sql.executionsList()):
            jobs = sorted(self._conv.asJava(e.jobs().keySet()))
            if not jobs:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            counters: dict[str, float] = {}
            seen = set()
            metrics = list(self._conv.asJava(e.metrics()))
            names = {m.name() for m in metrics}
            is_write = "number of written files" in names
            for m in metrics:
                acc = m.accumulatorId()
                if acc in seen:
                    continue
                seen.add(acc)
                name = m.name()
                if name == "number of output rows" and is_write:
                    # the write command's own row count comes first
                    if "rows_written" in counters:
                        continue
                    name = "number of output rows@write"
                key = SQL_COUNTERS.get(name)
                text = values.get(acc)
                if key is None or text is None:
                    continue
                counters[key] = counters.get(key, 0.0) + parse_metric(text)
            out[jobs[0]] = counters
        return out

    def collect(self, groups: list[str]) -> dict[str, GroupStats]:
        self.drain()
        sql = self._sql_by_job()
        tracker = self.sc.statusTracker()
        out: dict[str, GroupStats] = {}
        for g in groups:
            gs = GroupStats()
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                gs.jobs += 1
                for sid in info.stageIds:
                    st = self._stage(sid)
                    if st is not None:
                        gs.stages.append(st)
                for k, v in sql.get(jid, {}).items():
                    gs.sql[k] = gs.sql.get(k, 0.0) + v
            out[g] = gs
        return out

    def catalyst_ms(self, df) -> dict[str, float]:
        """Catalyst phase durations of a DataFrame that has executed."""
        phases = self._conv.asJava(df._jdf.queryExecution().tracker().phases())
        return {str(k): float(v.durationMs()) for k, v in phases.items()}
