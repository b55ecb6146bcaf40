"""Spans and Spark status-store counters, recorded from outside the engine.

A span is one timed call into a layer: name, start, end, parent, run id.
Spans stay in memory and are written as JSON lines when the run ends.
Around each span the Spark status store (the data behind the Spark UI,
read through py4j) is diffed for the stages that ran inside it.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

# StageData accessor -> counter name. Times are ms except cpu (ns).
_STAGE_FIELDS = {
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "task_gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "numFailedTasks": "failed_tasks",
}


class StageCounters:
    """Sums task counters of the stages that completed since the last
    :meth:`take`. Stage ids grow monotonically, so "new" is "id above
    the highest id already taken"."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self._last_stage = -1
        self.take()

    def _stages(self):
        # The listener bus fills the store asynchronously; drain it so
        # the stages of the action that just returned are all there.
        self._sc.listenerBus().waitUntilEmpty()
        return self._to_java(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def take(self) -> dict[str, int]:
        totals = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        top = self._last_stage
        for stage in self._stages():
            sid = stage.stageId()
            if sid <= self._last_stage:
                continue
            top = max(top, sid)
            for accessor, name in _STAGE_FIELDS.items():
                totals[name] += getattr(stage, accessor)()
        self._last_stage = top
        return totals

    def gc_seconds(self) -> float:
        """Cumulative JVM garbage-collection time (driver and executors
        share one JVM under ``local[N]``)."""
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    workload: str
    run: int
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; :meth:`write` dumps them as JSON lines."""

    def __init__(self, workload: str, counters: StageCounters):
        self.workload = workload
        self.counters = counters
        self.spans: list[Span] = []

    def span(self, name: str, run: int, fn, parent: str | None = None) -> Span:
        """Time ``fn()`` as span ``name``."""
        self.counters.take()
        start = time.perf_counter()
        fn()
        end = time.perf_counter()
        s = Span(name, start, end, parent, self.workload, run)
        s.counters = self.counters.take()
        self.spans.append(s)
        return s

    def write(self, path: Path) -> None:
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
