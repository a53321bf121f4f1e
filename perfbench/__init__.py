"""Seeded serving-and-curation benchmark for the engine (see run.py)."""
