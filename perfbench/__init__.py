"""Benchmark of ontology_mapper_spark: three KG workloads, end to end and
per layer. Entry point: ``python3 perfbench/run.py --help``."""
