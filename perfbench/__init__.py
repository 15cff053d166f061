"""Seeded filter / curate / build benchmark for wtq; the entry point is run.py."""
