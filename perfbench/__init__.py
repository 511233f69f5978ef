"""Seeded benchmark of the spark_pipeline_spark package; see BENCHMARK.json."""
