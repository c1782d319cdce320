"""Seeded, host-sized benchmark for geowarp-spark (see run.py)."""
