"""Benchmark of the streaming validate-and-route job and the BI serving path (see README.md)."""
