"""Seeded entity-resolution benchmark for the streaming_cdc_spark engine.

Run ``python3 perfbench/run.py --help`` from the repository root; the
notes are in ``perfbench/README.md``.
"""
