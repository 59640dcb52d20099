"""Benchmark of pdf_parser_spark; run it with perfbench/run.py."""
