"""Closed-loop benchmark for the map_reduce_ruby_spark engine.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` (see perfbench/README.md).
"""
