"""Seeded end-to-end benchmark of the spark-graft package (see README.md)."""
