"""Crawl-engine benchmark (see README.md)."""
