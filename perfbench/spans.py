"""Spans and layer counters for the traced run.

Everything here is recorded from the benchmark's side of each call into
the package: a span per call (name, start, end, parent span, op id),
the number of py4j round trips it made, and, per op, the Spark status
store counters of the jobs the op ran under the job group the tracer
set.  Spans stay in memory until `dump`.  A disabled tracer does none
of this, so an untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: Spark status-store counters per op, with the unit conversion from
#: the StageData getter.
_STAGE_COUNTERS = {
    "spark.tasks": ("numTasks", 1.0),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spark.spill_mb": ("diskBytesSpilled", 1e-6),
}
SPARK_METRICS = ["spark.jobs", "spark.stages", *_STAGE_COUNTERS]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    py4j_calls: int


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    spark_ops: list[dict[str, float]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _calls: int = 0
    _sc: object = None

    def enable(self, spark) -> None:
        """Start tracing `spark`, counting the py4j round trips of its
        gateway client.  Every JavaObject calls `send_command` through
        the one client, so an instance-level wrapper sees them all."""
        self.enabled = True
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        orig = type(client).send_command

        def counted(*args, **kwargs):
            self._calls += 1
            return orig(client, *args, **kwargs)

        client.send_command = counted

    def disable(self) -> None:
        self.enabled = False
        del self._sc._gateway._gateway_client.send_command

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op, self._calls))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = time.perf_counter()
            s.py4j_calls = self._calls - s.py4j_calls

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """One timed op: its Spark jobs run under job group `op-<id>`,
        whose stage counters are read from the status store after."""
        if not self.enabled:
            yield
            return
        group = f"op-{op_id}"
        self._sc.setJobGroup(group, name)
        try:
            with self.span(name, op_id):
                yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self.spark_ops.append(self._job_counters(group))

    def _job_counters(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        jsc = self._sc._jsc.sc()
        # status-store updates arrive through the listener bus; drain it
        # so the op's last stage is already accounted for
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for stage in info.stageIds:
                try:
                    data = store.lastStageAttempt(stage)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["spark.stages"] += 1
                for metric, (getter, scale) in _STAGE_COUNTERS.items():
                    out[metric] += getattr(data, getter)() * scale
        return out

    # -- aggregation -----------------------------------------------------

    def totals(self) -> dict[str, tuple[float, int, int]]:
        """span name -> (seconds, py4j calls, number of spans)."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0, 0])
        for s in self.spans:
            acc = out[s.name]
            acc[0] += s.end - s.start
            acc[1] += s.py4j_calls
            acc[2] += 1
        return {k: tuple(v) for k, v in out.items()}

    def spark_per_op(self) -> dict[str, float]:
        n = max(len(self.spark_ops), 1)
        return {m: sum(o[m] for o in self.spark_ops) / n for m in SPARK_METRICS}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [s.__dict__ for s in self.spans],
                    "spark_ops": self.spark_ops,
                },
                f,
            )
