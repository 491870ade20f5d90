"""End-to-end and per-module benchmark for the fulltext engine.

Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
