"""Seeded, layered benchmark of the spark-graft engine (see NOTES.md)."""
