"""Benchmark for transit_feed_etl_spark: ingest, map_reads and analytics
workloads; see perfbench/NOTES.md."""
