"""Benchmark of the engine's catalog queries and its ETL MERGE sync:
``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
from the checkout root (workloads in ``perfbench/workloads.py``)."""
