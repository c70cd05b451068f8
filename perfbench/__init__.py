"""Seeded benchmark of the dagli_spark engine (see README.md)."""
