"""Benchmark for the iot_etl_spark engine; entry point: perfbench/run.py."""
