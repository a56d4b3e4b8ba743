"""End-to-end and per-layer benchmark of bigdata_commerce_spark; see run.py."""
