"""Seeded, per-layer benchmark harness for go_spatial_spark (see NOTES.md)."""
