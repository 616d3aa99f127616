"""Benchmark harness for the spark-sea engine; see perfbench/README.md."""
