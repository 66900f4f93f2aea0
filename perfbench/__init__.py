"""Benchmark of record for the transcript-extraction pipeline; see run.py."""
