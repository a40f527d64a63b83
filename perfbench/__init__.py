"""Benchmark of the article-index pipeline, curation and the incremental index."""
