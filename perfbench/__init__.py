"""Seeded benchmark for the engine: analytics queries and batch enrichment.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root. See NOTES.md.
"""
