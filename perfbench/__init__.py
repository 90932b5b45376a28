"""Seeded end-to-end benchmark of the CDC ingest and keyed-table serving
paths; see ``perfbench/README.md``."""
