"""dedup-spark benchmark: workloads, output check, tracing and kernel microbench."""
