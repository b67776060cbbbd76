"""tokenseries-spark benchmark harness (see perfbench/README.md)."""
