"""Benchmark of the plan-interchange library and its operator pipelines; see run.py."""
