"""Benchmark of the japanstockdatapipeline_spark package (see DESIGN.md)."""
