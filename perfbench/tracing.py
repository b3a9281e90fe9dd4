"""Per-layer tracing from outside the engine, plus host-state probes.

Each public call the benchmark makes is timed on its own; in a traced run
the tracer also counts the Spark jobs, stages and tasks the call ran and,
for a collected result, sums SQL metrics over the final adaptive plan.
Nothing is traced inside the package.

Jobs are attributed by job-id range rather than by a job group: the
builder submits jobs from its own worker threads, which a thread-local
job group does not reach, while job ids are assigned in submission
order and the benchmark runs one call at a time. Tracer bookkeeping
(draining the listener bus, status and plan reads) is timed separately
and reported as ``trace.overhead_ms``.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

CALIBRATION_ROWS = 3_000_000


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._status = spark.sparkContext.statusTracker()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._next_job = 0
        self._overhead_s = 0.0
        self._traced_calls = 0

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))

    @contextmanager
    def span(self, layer: str, op: str):
        """Time the block as ``<layer>.<op>_ms``; when tracing, also record
        ``<layer>.<op>_jobs`` and leave the job, stage, task and failed-task
        counts in the yielded dict for the caller to attribute."""
        info: dict = {}
        if self.enabled:
            self._sync()
        first = self._next_job
        t0 = time.perf_counter()
        yield info
        info["s"] = time.perf_counter() - t0
        self.add(f"{layer}.{op}_ms", info["s"] * 1e3)
        if not self.enabled:
            return
        t1 = time.perf_counter()
        self._sync()
        info.update(jobs=self._next_job - first, stages=0, tasks=0, failed_tasks=0)
        for j in range(first, self._next_job):
            job = self._status.getJobInfo(j)
            for sid in job.stageIds if job else ():
                st = self._status.getStageInfo(sid)
                if st is not None:
                    info["stages"] += 1
                    info["tasks"] += st.numTasks
                    info["failed_tasks"] += st.numFailedTasks
        self.add(f"{layer}.{op}_jobs", info["jobs"])
        self._overhead_s += time.perf_counter() - t1
        self._traced_calls += 1

    def _sync(self) -> None:
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        while self._status.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        self._overhead_s += time.perf_counter() - t0

    def plan_metrics(self, df) -> dict[str, float]:
        """SQL metrics summed over the executed plan of a collected df,
        descending through adaptive query stages."""
        t0 = time.perf_counter()
        acc: dict[str, float] = defaultdict(float)
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.finalPhysicalPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            ms = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                ms[kv._1()] = kv._2().value()
            if cls == "FileSourceScanExec":
                acc["scan_rows"] += ms.get("numOutputRows", 0)
                acc["scan_bytes"] += ms.get("filesSize", 0)
            elif cls == "ShuffleExchangeExec":
                acc["shuffle_bytes"] += ms.get("shuffleBytesWritten", 0)
            acc["python_rows"] += ms.get("pythonNumRowsReceived", 0)
            acc["python_ms"] += ms.get("pythonTotalTime", 0)
            acc["jvm_pipeline_ms"] += ms.get("pipelineTime", 0)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        self._overhead_s += time.perf_counter() - t0
        return acc

    def overhead_ms(self) -> float:
        return self._overhead_s * 1e3 / max(1, self._traced_calls)

    def summary(self) -> dict[str, float]:
        """Median of each time sample list, mean of each count list."""
        out = {}
        for name, vals in self.samples.items():
            timed = name.endswith(("_ms", "_s"))
            out[name] = statistics.median(vals) if timed else statistics.fmean(vals)
        return out


def calibration_ms(spark, reps: int = 3) -> float:
    """Median wall time of a fixed pure-Catalyst aggregation: a drift
    probe for the host, independent of the engine."""
    times = []
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        spark.range(0, CALIBRATION_ROWS, numPartitions=4).selectExpr(
            "sum(hash(id) % 997) AS s"
        ).collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times[1:])  # the first run warms the JIT


def host_state() -> dict[str, float]:
    mem = 0.0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) / 1024.0
    return {"host.loadavg_1m": os.getloadavg()[0], "host.mem_available_mb": mem}
