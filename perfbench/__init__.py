"""The MarketViz benchmark: seeded workloads, checks, metrics and
traced per-layer timings. Entry point: perfbench/run.py."""
