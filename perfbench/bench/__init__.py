"""Same-box benchmark of the graft Spark program (see perfbench/README.md)."""
