"""Structured Streaming: windowed aggregation, dedup, joins and incremental MERGE."""
