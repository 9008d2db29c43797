"""Benchmark of the vsp engine: see README.md in this directory."""
