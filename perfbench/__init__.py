"""End-to-end and per-layer benchmark for the Delta→Pulsar CDC engine.

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1``
(see ``perfbench/METRICS.md``).
"""
