"""Benchmark of gmail_etl_spark: workloads, generators and tracing."""
