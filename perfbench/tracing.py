"""Tracing and counters, all from outside the engine.

- :class:`Tracer` records spans (name, start, end, parent, run id) in
  memory around the benchmark's calls into engine modules. ``patch``
  wraps a module attribute so calls made *through that name* are spanned;
  the engine's source is never modified. Spans are written once, at the
  end of the run.
- :func:`spark_counters` reads Spark's status store and sums jobs, tasks,
  shuffle bytes, spill, skew and executor busy time over the job groups
  the benchmark set around its calls.
- :func:`peak_rss_mb`, :func:`noise_probe` and :func:`host_info` record
  memory and host state.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open span ids
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "run": self.run_id, "parent": stack[-1] if stack else None,
               "thread": threading.get_ident(), "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, module, attr: str, name: str) -> None:
        """Span every call made through ``module.attr`` as ``name``
        (recorded only while the tracer is enabled)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by direct children (a span's children run on its own thread, so
        they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times()}, f)


def _seq(sc, scala_seq):
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def spark_counters(spark, group_prefix: str, wall_s: float, cores: int) -> dict[str, float]:
    """Engine-wide counters for every job whose group starts with
    ``group_prefix``, from the live status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    jobs = tasks = failed = 0
    for job in _seq(sc, store.jobsList(None)):
        group = job.jobGroup()
        if not (group.isDefined() and str(group.get()).startswith(group_prefix)):
            continue
        jobs += 1
        tasks += job.numTasks()
        failed += job.numFailedTasks()
        stage_ids.update(int(s) for s in _seq(sc, job.stageIds()))
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    shuffle_w = shuffle_r = spill = run_ms = 0
    skew = 1.0
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    for st in _seq(sc, stages):
        if st.stageId() not in stage_ids:
            continue
        shuffle_w += st.shuffleWriteBytes()
        shuffle_r += st.shuffleReadBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        run_ms += st.executorRunTime()
        if st.numCompleteTasks() > 1:
            summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                if rt.apply(0) > 0:
                    skew = max(skew, rt.apply(1) / rt.apply(0))
    return {
        "spark.jobs": jobs,
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.shuffle_read_bytes": shuffle_r,
        "spark.spill_bytes": spill,
        "spark.task_skew": skew,
        "spark.busy_share": run_ms / 1000.0 / (cores * wall_s) if wall_s > 0 else 0.0,
    }


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def noise_probe(spark, runs: int = 3) -> float:
    """Fixed host-contention probe: a pure JVM aggregate over a generated
    range (bench.py's shape, smaller). Median seconds of ``runs``."""
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(5_000_000).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_info() -> dict[str, float]:
    return {"host.nproc": nproc(), "host.loadavg_1m": os.getloadavg()[0]}
