"""Data-plane benchmark: seeded topic inputs, two workloads, reference checks
and layer tracing. Run ``python3 perfbench/run.py --help`` from the repository root."""
