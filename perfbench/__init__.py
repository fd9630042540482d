"""Benchmark for meeseeker_spark; see README.md."""
