#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root: the program under test (``pyetl_spark``) is
imported from the current directory, inputs are generated from ``--seed``
and everything the run writes stays under ``.perfbench/`` there. The run
exits with code 2, printing no result, when ``pyetl_spark`` is not there.

stdout ends with two JSON lines. The first is the run record: series
version, ambient calibration (start, middle, end), sample counts, the
latency tail, per-operation medians and every output check. The last is
the result: ``correct``, ``attempted``, ``failed`` and the metrics, the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``, named and with units as in ``BENCHMARK.json``. A traced run
also writes its spans to ``.perfbench/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import time

_START = time.perf_counter()

#: Bump when a change to the benchmark makes its numbers incomparable
#: with earlier records.
SERIES = "perfbench-2"

#: Spark task slots (``local[CORES]``). On a 4-vCPU VM of a shared host,
#: four task threads plus the JVM's compiler and GC threads and the Python
#: driver oversubscribe the vCPUs, and the run-to-run spread then measures
#: the scheduler more than the program. The workloads run a few small jobs
#: at a time, so two slots cost them little.
CORES = 2


def _confine(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYETL_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyetl_spark", "__init__.py")):
        print("perfbench: pyetl_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    _confine(work)
    sys.path.insert(0, root)

    from perfbench import harness, report, summary

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = report.load_spec()
    bench = harness.Bench(root, harness.WORKLOADS[args.workload], args.seed,
                          args.seconds, bool(args.trace))
    try:
        res = bench.run()
        if args.trace:
            trace_path = os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json")
            res["recorder"].dump(
                trace_path, {"series": SERIES, "workload": args.workload, "seed": args.seed})
        cores = bench.spark.sparkContext.defaultParallelism
    finally:
        bench.close()

    e2e, record = summary.end_to_end(res)
    values = summary.per_layer(bench, res, cores) if args.trace else e2e
    record.update(series=SERIES, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, cores=cores,
                  end_to_end=e2e, checks=bench.checks, failures=bench.failures,
                  wall_s=time.perf_counter() - _START)
    if args.trace:
        record["trace_file"] = os.path.relpath(trace_path, root)
        record["self_s"] = res["recorder"].self_seconds()
        record["per_key"] = summary.per_key(res["recorder"])
    print(json.dumps(record, default=str))
    checks_ok = all(c["ok"] for c in bench.checks) and bool(bench.checks)
    print(report.result_line(spec, bool(args.trace), values, bench.attempted,
                             bench.failed, checks_ok and bench.failed == 0))
    return 0


if __name__ == "__main__":
    sys.exit(main())
