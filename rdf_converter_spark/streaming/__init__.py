"""Structured Streaming: incremental triple extraction into a
maintained triple store."""
