"""Job-level benchmark of the extraction engine (see perfbench/README.md)."""
