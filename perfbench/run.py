#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload logs_batch --seed 1 --seconds 10 --trace 0

Workloads: logs_batch, wiretap_stream (see workloads.py and README.md).
Inputs are generated from ``--seed`` under ``.perfbench/`` before any
timing. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``). Exit status 1 if any correctness check failed, 2 if the
engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback


def _pin_environment(root: str, cores: int) -> None:
    """Environment for the driver JVM and its Python workers. PYTHONPATH
    must name the repo: workers unpickle engine functions by module path."""
    scratch = os.path.join(root, ".perfbench")
    for sub in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # every JVM, the spark-submit launcher too: temp files inside the
    # checkout, and no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    sys.path.insert(0, root)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_stuff_spark", "engine.py")):
        print("perfbench: run from the repo root (hadoop_stuff_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    import harness
    import tracing
    import workloads

    runners = {"logs_batch": workloads.logs_batch, "wiretap_stream": workloads.wiretap_stream}
    if args.workload not in runners:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _pin_environment(root, tracing.nproc())

    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace), root)
    try:
        runners[args.workload](bench)
        if not args.trace:  # traced runs report these as per-layer metrics
            bench.record.update(tracing.host_info())
            bench.record["host.noise_probe_s"] = tracing.noise_probe(bench.spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.stop()
        if args.trace:
            bench.tracer.write(os.path.join(root, ".perfbench", "runs", f"{bench.run_id}.spans.json"))
        shutil.rmtree(bench.work, ignore_errors=True)

    listed = spec["per_layer" if args.trace else "end_to_end"]
    produced = bench.layer if args.trace else bench.e2e
    missing = [m["name"] for m in listed if m["name"] not in produced]
    if not args.trace and missing:
        print(f"perfbench: end-to-end metrics not produced: {missing}", file=sys.stderr)
        return 1
    # a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": float(produced.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    correct = bench.failed == 0
    detail = {"run": bench.run_id, "at": time.time(), "failures": bench.failures[:20],
              "e2e": bench.e2e, "layer": bench.layer, **bench.record}
    with open(os.path.join(root, ".perfbench", "runs", f"{bench.run_id}.json"), "w",
              encoding="utf-8") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    for msg in bench.failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
