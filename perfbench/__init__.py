"""Repository benchmark for the seal-extraction engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

See ``BENCHMARK.json`` for the workloads and metrics and
``perfbench/README.md`` for how each layer is measured.
"""
