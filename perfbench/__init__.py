"""Repository benchmark: closed-loop workloads over the bi5 DataSource
and the query catalog.  Entry point: ``python3 perfbench/run.py``."""
