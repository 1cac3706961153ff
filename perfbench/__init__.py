"""End-to-end and per-layer benchmark of the beats_spark pipeline."""
