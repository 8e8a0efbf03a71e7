"""Benchmark of the crawl engine and the corpus pipeline (see run.py)."""
