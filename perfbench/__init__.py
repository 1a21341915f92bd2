"""Benchmark of the transcript quality filter; see run.py."""
