"""Benchmark of pandera_spark: see NOTES.md and BENCHMARK.json."""
