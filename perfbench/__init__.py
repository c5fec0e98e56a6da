"""Benchmark of the fifteenmc_spark engine; see README.md."""
