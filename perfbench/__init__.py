"""Layer-by-layer benchmark for marker-spark; see perfbench/README.md."""
