"""Benchmark of the genegraph_spark KG pipeline; see README.md."""
