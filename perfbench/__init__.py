"""Benchmark of anomalyzer_spark; see run.py."""
