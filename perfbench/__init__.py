"""Seeded benchmark for ertransfer_spark: see perfbench/README.md."""
