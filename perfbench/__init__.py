"""Layered benchmark of the telemetry pipeline; ``run.py`` is the entry point."""
