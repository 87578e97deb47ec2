"""Benchmark for ontology_loader_spark: see README.md."""
