"""Seeded micro-batch benchmark for polars_incremental_spark (see run.py)."""
