"""Tracing from outside the program: spans around calls into its modules,
plan inspection, prefix forcing, and engine counters from the status store.

The program's code is not changed: ``wrapped`` only swaps a module
attribute for a timing wrapper while one traced operation runs. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict

from stats import median

_EXCHANGE_RE = re.compile(r"^[\s:|+-]*(Exchange|BroadcastExchange|ReusedExchange)\b")


class Tracer:
    """Spans (name, start, end, parent, op) in memory; self time = a span's
    duration minus the part of it its child spans cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "op": self.op_id}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, op_id: int):
        self.op_id = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self.op_id = None

    def self_times(self) -> dict[int | None, dict[str, float]]:
        """{op id: {span name: summed self seconds}}."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s["op"]][s["name"]] += s["end"] - s["start"] - child[i]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextlib.contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str):
    """Time every call to ``module.attr`` as a span while the block runs."""
    original = getattr(module, attr)

    def timed(*a, **kw):
        with tracer.span(span_name):
            return original(*a, **kw)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, original)


def plan_exchanges(df) -> tuple[float, int]:
    """Seconds to materialize the physical plan, and its Exchange count."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    dt = time.perf_counter() - t0
    n = sum(1 for line in plan.toString().splitlines() if _EXCHANGE_RE.match(line))
    return dt, n


def force(df, observe: dict | None = None) -> tuple[float, dict]:
    """Run ``df`` to completion into the noop sink; returns seconds and the
    observed aggregates (collected by the same job)."""
    from pyspark.sql import Observation

    obs = None
    if observe:
        obs = Observation()
        df = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, (dict(obs.get) if obs else {})


class StatusStore:
    """Per-operation deltas of the engine's own counters: jobs, stages,
    tasks, shuffle and spill bytes from the status store, and the driver
    JVM's collector time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def _job_ids(self) -> set[int]:
        jobs = self.jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def snapshot(self) -> tuple[set[int], int]:
        self.jsc.listenerBus().waitUntilEmpty()
        return self._job_ids(), self._gc_ms()

    def delta(self, before: tuple[set[int], int], wall_s: float) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)
        seen_jobs, gc0 = before
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() in seen_jobs:
                continue
            n_jobs += 1
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        stages = tasks = shuffle = spill = run_ms = 0
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            stages += 1
            tasks += s.numCompleteTasks()
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            run_ms += s.executorRunTime()
        return {
            "spark.jobs": n_jobs,
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.shuffle_write_bytes": shuffle,
            "spark.spill_bytes": spill,
            "spark.gc_s": (self._gc_ms() - gc0) / 1000.0,
            "spark.task_busy_share": run_ms / 1000.0 / (wall_s * self.cores),
        }


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over a list of per-operation dicts."""
    keys = {k for r in rows for k in r}
    return {k: median([r[k] for r in rows if k in r]) for k in keys}
