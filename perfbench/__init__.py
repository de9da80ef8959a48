"""Benchmark for the markt_database_analyzer_spark engine; run ``python3 perfbench/run.py --help``."""
