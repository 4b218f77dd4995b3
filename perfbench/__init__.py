"""Benchmark harness for duckdb_ann_spark; see run.py."""
