"""Layered benchmark of chunker_spark; entry point ``perfbench/run.py``."""
