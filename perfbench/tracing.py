"""Per-layer tracing, recorded from outside the engine.

The traced run wraps the public functions of each engine layer (the module
attributes are swapped in memory, nothing on disk changes), records one span
per call, and reads Spark's own accounting for every operation: the DAG
scheduler's job counter, the in-process status store and a
``StreamingQueryListener``. Spans stay in memory and are written out when
the run ends. The untraced run installs none of this.
"""

from __future__ import annotations

import functools
import os
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

ENGINE = "manipula_o_de_dataframes_spark"
MB = 1024 * 1024
SPARK_METRICS = (
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.wait_s", "driver.gap_s",
    "executor.run_s", "executor.gc_s", "scan.input_mb", "shuffle.read_mb", "shuffle.write_mb",
    "shuffle.spill_mb",
)


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class _StreamCounter(StreamingQueryListener):
    """Counts streaming queries and micro-batches as Spark reports them."""

    def __init__(self) -> None:
        self.queries = 0
        self.batches = 0
        self.batch_ms = 0
        self.commit_ms = 0

    def onQueryStarted(self, event) -> None:
        self.queries += 1

    def onQueryProgress(self, event) -> None:
        d = event.progress.durationMs
        self.batches += 1
        self.batch_ms += d.get("triggerExecution", 0)
        self.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans and counters for one traced run."""

    def __init__(self, spool_root: str) -> None:
        self.spool_root = spool_root
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []
        self._spark = None
        self._streams: _StreamCounter | None = None
        self._next_job = 0
        self._next_stage = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    # -- layer wrappers --------------------------------------------------
    def _wrap(self, layer: str, label: str, fn, on_exit=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = tracer._depth[layer] == 0
            tracer._depth[layer] += 1
            before = tracer._before(layer) if outer and on_exit else None
            try:
                with tracer.span(f"{layer}.{label}") as rec:
                    return fn(*args, **kwargs)
            finally:
                tracer._depth[layer] -= 1
                if outer:
                    tracer.counters[f"{layer}.calls"] += 1
                    tracer.counters[f"{layer}.s"] += rec["t1"] - rec["t0"]
                    if on_exit:
                        on_exit(before)

        return wrapper

    def _before(self, layer: str):
        t = time.perf_counter()
        if layer == "spool":
            state = _dir_bytes(self.spool_root)
        else:
            state = self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
        self.bookkeeping_s += time.perf_counter() - t
        return state

    def _spool_exit(self, before: int) -> None:
        t = time.perf_counter()
        self.counters["spool.bytes"] += _dir_bytes(self.spool_root) - before
        self.bookkeeping_s += time.perf_counter() - t

    def _artifact_exit(self, jobs_before: int) -> None:
        t = time.perf_counter()
        jobs = self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
        self.counters["artifact.reused"] += jobs == jobs_before
        self.bookkeeping_s += time.perf_counter() - t

    def install(self, spark, artifacts: tuple[str, ...]) -> list[str]:
        """Swap every engine-module reference to a traced function for its
        wrapper; return the artifact helpers found and wrapped."""
        from manipula_o_de_dataframes_spark import queries  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.operators import spool  # noqa: PLC0415
        from manipula_o_de_dataframes_spark.sources import io  # noqa: PLC0415

        self._spark = spark
        targets = {
            io.read_table: ("sources", "read_table", None),
            io.read_table_parallel: ("sources", "read_table_parallel", None),
            spool.spool: ("spool", "spool", self._spool_exit),
        }
        found = [name for name in artifacts if hasattr(queries, name)]
        for name in found:
            targets[getattr(queries, name)] = ("artifact", name, self._artifact_exit)
        wrappers = {fn: self._wrap(layer, label, fn, on_exit) for fn, (layer, label, on_exit) in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for attr, value in list(vars(mod).items()):
                if isinstance(value, types.FunctionType) and value in wrappers:
                    setattr(mod, attr, wrappers[value])
                    self._patched.append((mod, attr, value))
        self._streams = _StreamCounter()
        spark.streams.addListener(self._streams)
        self.sync()
        return found

    def uninstall(self) -> None:
        for mod, attr, value in self._patched:
            setattr(mod, attr, value)
        self._patched.clear()
        if self._streams is not None and self._spark is not None:
            self._spark.streams.removeListener(self._streams)

    # -- Spark accounting ------------------------------------------------
    def _wait_listener_bus(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def sync(self) -> None:
        """Forget jobs and stages that ran before this point."""
        self._wait_listener_bus()
        sc = self._spark.sparkContext._jsc.sc()
        self._next_job = sc.dagScheduler().numTotalJobs()
        if self._next_job:
            ids = sc.statusStore().job(self._next_job - 1).stageIds()
            self._next_stage = max(ids.apply(i) for i in range(ids.size())) + 1

    def spark_work(self, exec_window: tuple[float, float] | None = None) -> dict[str, float]:
        """Scheduler and executor totals for the jobs since the last call.

        ``exec_window`` (wall-clock epoch seconds) is the execute phase; the
        part of it no stage covered is returned as ``driver.gap_s``.
        """
        t = time.perf_counter()
        self._wait_listener_bus()
        sc = self._spark.sparkContext._jsc.sc()
        store = sc.statusStore()
        last = sc.dagScheduler().numTotalJobs()
        stage_ids: set[int] = set()
        for job_id in range(self._next_job, last):
            ids = store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        out["scheduler.jobs"] = last - self._next_job
        self._next_job = last
        # A job that reuses an earlier shuffle lists that stage again; stage
        # ids grow monotonically, so only ids past the last counted one are new.
        new_stages = sorted(sid for sid in stage_ids if sid >= self._next_stage)
        if new_stages:
            self._next_stage = new_stages[-1] + 1
        intervals = []
        for sid in new_stages:
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["scheduler.stages"] += 1
            out["scheduler.tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            out["executor.run_s"] += s.executorRunTime() / 1000
            out["executor.gc_s"] += s.jvmGcTime() / 1000
            out["scan.input_mb"] += s.inputBytes() / MB
            out["shuffle.read_mb"] += s.shuffleReadBytes() / MB
            out["shuffle.write_mb"] += s.shuffleWriteBytes() / MB
            out["shuffle.spill_mb"] += s.diskBytesSpilled() / MB
            sub, first, done = s.submissionTime(), s.firstTaskLaunchedTime(), s.completionTime()
            if sub.isDefined() and first.isDefined():
                out["scheduler.wait_s"] += (first.get().getTime() - sub.get().getTime()) / 1000
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000, done.get().getTime() / 1000))
        if exec_window is not None:
            out["driver.gap_s"] = _uncovered(exec_window, intervals)
        self.bookkeeping_s += time.perf_counter() - t
        return out

    def stream_totals(self) -> dict[str, float]:
        self._wait_listener_bus()
        s = self._streams
        return {
            "streaming.queries": s.queries,
            "streaming.batches": s.batches,
            "streaming.batch_s": s.batch_ms / 1000,
            "streaming.commit_s": s.commit_ms / 1000,
        }


def _uncovered(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of ``window`` not covered by any of ``intervals``."""
    lo, hi = window
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (hi - lo) - covered)
