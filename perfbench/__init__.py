"""Layered benchmark of the survey-ETL engine; run ``perfbench/run.py``."""
