"""CDC workload benchmark (see run.py)."""
