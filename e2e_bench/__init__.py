"""Closed-loop end-to-end benchmark of the gdal_spark engine.

Run one workload with ``python3 e2e_bench/run.py --workload <name>``; see
``e2e_bench/README.md`` for the workloads, metrics and the trace.
"""
