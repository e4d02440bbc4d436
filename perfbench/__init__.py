"""kg-spark benchmark: see run.py and BENCHMARK.json at the repo root."""
