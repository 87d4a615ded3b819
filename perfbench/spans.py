"""Spans and Spark stage metrics for the traced (`--trace 1`) run.

The benchmark never edits the library.  A traced run wraps library
functions from the outside (`Tracer.wrap` swaps the module attribute in
every loaded `classic_fcd_spark` module that bound it), so each call
records one span: name, start, end, parent, and the range of Spark job
ids it launched.  Spans stay in memory and are written once at exit.

Spark's own work is read back through the status store after the
measured region (`stage_metrics`), so the traced loop pays one py4j
call per span boundary and nothing per stage.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, spark) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job(self) -> int:
        """The id the next Spark job will get: a span's jobs are the ids
        between its start and end (the workloads run one job at a time)."""
        return int(self._dag.nextJobId())

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "job_lo": self.next_job(),
            "job_hi": None,
        }
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int | None, **attrs) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span["job_hi"] = self.next_job()
        span.update(attrs)
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    # -- wrapping library functions -----------------------------------------
    def wrap(self, module, attr: str, name, on_call=None) -> None:
        """Replace `module.attr` (and every other loaded library module's
        binding of the same function object) with a span-recording
        wrapper.  `name` is the span name, or a function of the call's
        (args, kwargs) that returns it.  `on_call` is an optional
        zero-argument probe evaluated before and after the call; the
        (before, after) pair is stored on the span as `probe`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            before = on_call() if on_call else None
            idx = self.open(name(args, kwargs) if callable(name) else name)
            try:
                return orig(*args, **kwargs)
            finally:
                self.close(idx, probe=(before, on_call()) if on_call else None)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("classic_fcd_spark") and (
                getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, wrapper)
                self._patched.append((mod, attr, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- reading spans back -------------------------------------------------
    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its direct children's
        intervals (children never overlap: the workloads are
        single-threaded per span stack)."""
        span = self.spans[idx]
        covered = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] == idx and s["end"] is not None
        )
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        """Write every span, each with its self time (`self`, seconds)."""
        with open(path, "w") as f:
            json.dump(
                [{**s, "self": None if s["end"] is None else self.self_time(i)}
                 for i, s in enumerate(self.spans)],
                f,
            )


def wait_for_listener(spark) -> None:
    """Stage metrics reach the status store through the async listener
    bus; drain it before reading."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


STAGE_FIELDS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


def stage_metrics(spark, job_ranges) -> dict[str, float]:
    """Totals over the jobs in `job_ranges` (iterable of [lo, hi) job id
    pairs): job count plus executed-stage metrics from the status
    store.  Skipped stages (reused shuffle output) count as no work."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs: set[int] = set()
    for lo, hi in job_ranges:
        jobs.update(range(lo, hi))
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(jobs))
    seen: set[int] = set()
    for jid in sorted(jobs):
        try:
            ids = store.job(jid).stageIds().mkString(",")
        except Exception:  # noqa: BLE001 - job evicted from the store
            continue
        for sid in (int(x) for x in ids.split(",") if x):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / 1e6
    return out
