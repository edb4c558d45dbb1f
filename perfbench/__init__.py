"""Repository benchmark; entry point is perfbench/run.py."""
