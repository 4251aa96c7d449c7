"""Benchmark of the etl_cnpjs_spark engine; entry point: perfbench/run.py."""
