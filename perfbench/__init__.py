"""Seeded end-to-end benchmark for spark-tsdb (see perfbench/README.md)."""
