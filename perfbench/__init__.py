"""Dedup throughput benchmark (see run.py)."""
