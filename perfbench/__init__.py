"""End-to-end and per-layer benchmark for bioio_spark (see run.py)."""
