"""Seeded end-to-end and per-layer benchmark of the zen3geo_spark engine."""
