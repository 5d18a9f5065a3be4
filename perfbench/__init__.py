"""Crawl benchmark of record for sinew_spark (see run.py)."""
