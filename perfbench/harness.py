"""Run context shared by the workloads: session set-up and teardown, job
groups and failure accounting."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import time

import tracing as tr

SETUP_REPS = 2  # a cold set-up costs 10-12 s on a 4-core host; a third would not fit the run budget


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, root: str):
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.run_id = f"{workload}-s{seed}-p{os.getpid()}"
        self.work = os.path.join(root, ".perfbench", self.run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = tr.Tracer(self.run_id, enabled=False)
        self.cores = tr.nproc()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {}  # run details that are not metrics
        self.spark = None
        self.eng = None
        self.jvm_pid: int | None = None

    # -- session ------------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def start_session(self, master: str | None = None) -> float:
        """(Re)start the SparkSession and Engine; returns get_spark seconds,
        which include the driver JVM's launch when none is running."""
        from pyspark import SparkContext

        from hadoop_stuff_spark.engine import Engine
        from hadoop_stuff_spark.session import get_spark

        self.stop_session()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=self._conf())
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.eng = Engine(self.spark)
        self.jvm_pid = SparkContext._gateway.proc.pid
        return took

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, prep) -> None:
        """SETUP_REPS cold set-ups, each in a fresh driver JVM (the previous
        one stopped, untimed): ``get_spark``, build the Engine and run
        ``prep(bench)`` (load the inputs, one small action). The last one
        stays up for the run. ``setup_s`` is their median. Call it before
        any engine query: the engine's module-level UDFs keep a handle into
        the JVM they were first used in."""
        totals, builds = [], []
        for i in range(SETUP_REPS):
            if i:
                self.stop()
            t0 = time.perf_counter()
            builds.append(self.start_session())
            prep(self)
            totals.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = statistics.median(totals)
        self.layer["session.get_spark_s"] = statistics.median(builds)
        self.record["setup_s"] = totals

    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for the JVM."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- accounting -----------------------------------------------------------

    @contextlib.contextmanager
    def group(self, name: str):
        """Attribute the Spark jobs run inside to ``<run id>:<name>``."""
        self.spark.sparkContext.setJobGroup(f"{self.run_id}:{name}", name)
        try:
            yield
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def check(self, failures: list[str], weight: int = 1, failed: int | None = None) -> None:
        """Count ``weight`` checked operations, ``failed`` of them wrong
        (default: all of them if there is any failure message)."""
        self.attempted += weight
        if failures:
            self.failed += weight if failed is None else min(weight, max(1, failed))
            self.failures.extend(failures)

    def counters(self, group_prefix: str, wall_s: float) -> None:
        """Spark counters over the jobs whose group starts with ``group_prefix``."""
        self.layer.update(tr.spark_counters(self.spark, group_prefix, wall_s, self.cores))

    def host(self) -> None:
        self.layer.update(tr.host_info())
        self.layer["host.noise_probe_s"] = tr.noise_probe(self.spark)

    def peak_rss(self) -> None:
        self.layer["memory.peak_rss_mb"] = tr.peak_rss_mb(self.jvm_pid)
