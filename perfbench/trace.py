"""Spans and Spark counters for the traced (``--trace 1``) run.

A span is (name, start, end, parent, pass id), kept in memory and
written out at the end of the run. Spans named after a layer
(``queries``, ``operators``, ``pipeline``, ``loaders``, ``streaming``)
also take the Spark stages that completed while they were the
innermost open layer span: at every layer-span boundary the stages
finished since the previous boundary are read from the SparkContext
status store and charged to the layer that was running. Calls are
sequential, so each stage lands in exactly one layer.

Everything here reads Spark over py4j; ``spark.ui.enabled=false``
does not turn these stores off.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


class SparkCounters:
    """Cumulative counters read from the JVM: stage metrics by stage
    id, SQL executions, codegen compiles and cached bytes."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stage_cursor = self._max_stage_id()

    def _max_stage_id(self) -> int:
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return stages.apply(0).stageId() if stages.size() else -1

    def new_stages(self) -> dict:
        """Summed metrics of the stages that finished since the last
        call (the list is ordered newest first)."""
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        top = self._stage_cursor
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage_cursor:
                break
            top = max(top, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_bytes"] += s.inputBytes()
        self._stage_cursor = top
        return out

    def sql_executions(self) -> int:
        return int(self._sql.executionsCount())

    def codegen(self) -> tuple[int, float]:
        """(compiles, total compile ms). The histogram keeps a sample of
        up to 1028 values; below that the sample is every compile."""
        h = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        n = int(h.getCount())
        if snap.size() >= n:
            return n, float(sum(snap.getValues()))
        return n, float(snap.getMean()) * n

    def cached_bytes(self) -> int:
        infos = self._jsc.getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class Tracer:
    """No-op unless enabled, so untraced runs pay one attribute test
    per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.pass_id = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._layer_stack: list[str] = []
        self.counters: SparkCounters | None = None
        # per pass: {metric: value}
        self.per_pass: dict = defaultdict(lambda: defaultdict(float))

    def attach(self, spark) -> None:
        if self.enabled:
            self.counters = SparkCounters(spark)

    def _charge_stages(self) -> None:
        stages = self.counters.new_stages()
        layer = self._layer_stack[-1] if self._layer_stack else "other"
        for k, v in stages.items():
            self.add(f"{layer}.{k}", v)

    def add(self, key: str, value: float) -> None:
        if self.enabled and self.pass_id is not None:
            self.per_pass[self.pass_id][key] += value

    def peak(self, key: str, value: float) -> None:
        if self.enabled and self.pass_id is not None:
            bucket = self.per_pass[self.pass_id]
            bucket[key] = max(bucket[key], value)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time ``name``; ``layer`` (queries, operators, pipeline, loaders
        or streaming) also charges Spark stages to that layer. Durations
        add up per pass under ``<name>_s``."""
        if not self.enabled:
            yield
            return
        if layer:
            self._charge_stages()
            self._layer_stack.append(layer)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "pass": self.pass_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if layer:
                self._charge_stages()
                self._layer_stack.pop()
            self.add(f"{name}_s", rec["end"] - rec["start"])
            self.peak("cache.cached_bytes_peak", self.counters.cached_bytes())

    @contextmanager
    def pass_scope(self, pass_id):
        """Per-pass SQL execution and codegen deltas."""
        self.pass_id = pass_id
        if not self.enabled:
            yield
            return
        sql0 = self.counters.sql_executions()
        cg0 = self.counters.codegen()
        try:
            yield
        finally:
            cg1 = self.counters.codegen()
            self.add("plan.sql_executions", self.counters.sql_executions() - sql0)
            self.add("codegen.compiles", cg1[0] - cg0[0])
            self.add("codegen.compile_ms", cg1[1] - cg0[1])
            self.pass_id = None

    def plan_phases(self, df) -> None:
        """Analysis/optimization/planning ms of ``df``'s own query
        execution, planned here ahead of the action."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.add(f"plan.{kv._1()}_ms", float(kv._2().durationMs()))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        per_pass = {str(k): dict(v) for k, v in self.per_pass.items()}
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "per_pass": per_pass, **extra}, fh, indent=1)
