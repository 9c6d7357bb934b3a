"""CDC replay benchmark (see run.py)."""
