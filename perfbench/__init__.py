"""End-to-end and per-layer benchmark of the quality-filter engine.

Run ``python3 perfbench/run.py --help``; NOTES.md says what each workload
and metric is for.
"""
