"""Crawl benchmark for the jobscrawler_spark engine (see README.md)."""
