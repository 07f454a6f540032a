"""Crawl benchmark of the cs3103_gocrawler_spark engine (see run.py)."""
