"""Benchmark of the gov_data_pipeline_spark package; see README.md."""
