"""Structured Streaming: the foreachBatch MERGE sink."""
