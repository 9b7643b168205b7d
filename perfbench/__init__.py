"""Crawl-and-curation benchmark for the frontier engine (see ``run.py``)."""
