"""Fit -> batch-score -> stream-serve benchmark (entry point: run.py)."""
