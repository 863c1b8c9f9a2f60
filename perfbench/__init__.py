"""Seeded end-to-end benchmark of the split and dedup CLIs (see run.py)."""
