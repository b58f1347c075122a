"""Seeded benchmark harness for disco_spark; entry point ``perfbench/run.py``."""
