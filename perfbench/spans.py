"""Tracing for the traced run: spans around each call into a layer, and the
Spark work each call launched.

A layer is the registry module a query function lives in
(`operators.joins`, `llm.simsearch`, ...). Every query call gets a `query`
span with `construct` (time inside `fn()`: plan building plus any eager
staging or write jobs) and `execute` (time in the `noop` action) children,
under a `pass` span; all spans of a run share one run id. Spans stay in
memory until `Tracer.dump`.

`StageCollector` reads Spark's own counters between calls: the DAG
scheduler's next job and stage ids bracket the jobs and stages a call
launched, and the status store (populated with the UI disabled) gives each
stage's executor run time and shuffle bytes written. Stage lookups are
deferred to `drain`, which the runner calls after each pass, outside the
timed region.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict

from py4j.protocol import Py4JJavaError


def layer_of(fn) -> str:
    """Registry module of a query function, without the package prefix."""
    return fn.__module__.removeprefix("bitcoin_price_etl_spark.")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Tracer:
    """In-memory span recorder; one instance per run."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None = None, **attrs) -> dict:
        span = {
            "run_id": self.run_id, "id": len(self.spans), "parent": parent,
            "name": name, "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(span)
        return span

    @staticmethod
    def end(span: dict) -> None:
        span["end"] = time.perf_counter()

    def add(self, name: str, parent: int, start: float, end: float) -> None:
        """Record a finished span whose times were taken by the caller."""
        span = self.start(name, parent)
        span["start"], span["end"] = start, end

    def dump(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"run_id": self.run_id, "context": context}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StageCollector:
    """Per-call job and stage deltas from the SparkContext's scheduler and
    status store, summed per layer."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._jobs: dict[str, int] = defaultdict(int)
        self._stages: list[tuple[str, int, int]] = []

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def record(self, layer: str, before: tuple[int, int]) -> None:
        """Attribute the jobs and stages launched since `before` to layer."""
        jobs, stages = self.mark()
        self._jobs[layer] += jobs - before[0]
        self._stages.append((layer, before[1], stages))

    def drain(self) -> dict[str, dict[str, float]]:
        """Per-layer `jobs`, `task_busy_s` and `shuffle_mb` since the last
        drain. Waits for the listener bus, so call it outside timed code."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = {
            layer: {"jobs": float(n), "task_busy_s": 0.0, "shuffle_mb": 0.0}
            for layer, n in self._jobs.items()
        }
        for layer, lo, hi in self._stages:
            for sid in range(lo, hi):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never reached the status store
                    continue
                out[layer]["task_busy_s"] += st.executorRunTime() / 1000.0
                out[layer]["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
        self._jobs.clear()
        self._stages.clear()
        return out
