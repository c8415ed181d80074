from zen3geo_spark.sources import fixtures, pages  # noqa: F401
