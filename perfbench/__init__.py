"""Stream-engine benchmark: seeded workloads, checks and metrics (see run.py)."""
