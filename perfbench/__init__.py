"""Seeded geocode benchmark (see run.py)."""
