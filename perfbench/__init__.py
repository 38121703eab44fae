"""Repository benchmark package; `run.py` is the entry point."""
