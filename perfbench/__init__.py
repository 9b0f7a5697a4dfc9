"""Extraction benchmark for ocr_spark (entry point: ``perfbench/run.py``)."""
