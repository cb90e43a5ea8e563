"""Steady end-to-end and per-layer benchmark of the etl_job_spark package."""
