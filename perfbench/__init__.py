"""Seeded, oracle-checked benchmark of the engine; see ``run.py``."""
