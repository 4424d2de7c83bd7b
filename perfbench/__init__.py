"""Benchmark of the feature store and its LLM-data extension; see README.md."""
