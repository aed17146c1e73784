"""End-to-end and per-layer benchmark for pyetl_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the repository root. See
``perfbench/README.md`` for the workloads, metrics and trace format.
"""
