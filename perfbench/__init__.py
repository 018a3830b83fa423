"""arrow_spark benchmark: workloads, tracing and reporting (see README.md)."""
