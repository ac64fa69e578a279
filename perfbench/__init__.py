"""Seeded, checked benchmark of the config-driven PySpark engine (see run.py)."""
