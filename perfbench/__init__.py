"""Benchmark for the FGAC analytics engine.

Drives the engine only through its public API (``FgacEngine``,
``SecureSession``, ``Warehouse``, the operator registry) on inputs
generated from a seed, checks every result, and prints one JSON line.
``python3 perfbench/run.py --help`` lists the options; README.md in this
directory describes the workloads and metrics.
"""
