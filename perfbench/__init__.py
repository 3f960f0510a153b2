"""Lambda-pipeline benchmark (see run.py)."""
