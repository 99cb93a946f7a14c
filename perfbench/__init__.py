"""The repository benchmark: flagship dedup on both sides of the broadcast
gate and a revising micro-batch stream. Entry point: ``perfbench/run.py``;
see ``perfbench/README.md``."""
