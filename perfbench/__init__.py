"""Linkage benchmark for the clkhash_spark pipeline; see README.md."""
