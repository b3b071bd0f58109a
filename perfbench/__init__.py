"""Layered end-to-end benchmark for kbasesearchengine_spark (see README.md)."""
