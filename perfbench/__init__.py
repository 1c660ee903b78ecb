"""Seeded benchmark of the bucket engine; see ``perfbench/run.py``."""
