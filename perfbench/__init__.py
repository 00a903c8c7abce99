"""Seeded, output-checked benchmark of osmptparser_spark; entry point run.py."""
