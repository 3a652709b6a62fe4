"""Layered TSDB benchmark: end-to-end and per-layer metrics over the
public entry points (``service``, ``streaming``, ``catalog``).

``perfbench/run.py`` is the command; ``README.md`` describes the
workloads, metrics and how to read them.
"""
