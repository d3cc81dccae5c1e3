"""Benchmark of the capture -> four tables -> SQL dataflow (see run.py)."""
